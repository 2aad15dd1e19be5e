"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, and n-gram Jaccard.

Scale posture (100 TB): every variant is one groupBy/self-join on a
*hash* key — never on raw text.  Exact dedup shuffles 16-byte digests;
MinHash shuffles (band, bucket) pairs; SimHash shuffles 4 band ints.
Candidate verification touches only bucket-colliding pairs, and AQE's
skew-join splitting handles pathological buckets (e.g. boilerplate
documents).  For truly degenerate buckets, ``max_bucket_size`` drops
buckets larger than the cap (standard practice: a bucket with
thousands of documents is boilerplate, not near-duplication signal —
and the cap is what keeps the self-join from going quadratic).

Execution shape: the sketches (MinHash signature, SimHash bit-sums)
are built as explode -> xxhash64 -> wide partial aggregation, NOT as
nested higher-order array functions.  Spark's higher-order functions
are CodegenFallback (interpreted) and re-evaluate lambda-captured
expressions per element, so a nested formulation re-runs the
normalization regexp per shingle per seed — orders of magnitude
slower.  The aggregation form is whole-stage-codegen'd, map-side
combined, and its shuffle carries (id, k longs) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from .persists import tracked_persist

from ..functions.hashing import band_hashes
from ..functions.textfns import char_shingles_normed, fingerprint, normalize_text, tokens
from ..partitioning import ensure_parallelism


def exact_dedup(
    documents: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate grouping by text digest: one row per distinct
    text with the group size and the representative (min id) — the
    keep-list of hash-based dedup.

    Digest-first means the shuffle carries 32-hex-char keys, not
    documents; at 100 TB the text column never leaves the map side.
    """
    return (
        documents.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def fingerprint_dedup(
    documents: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-exact dedup on the normalized-text fingerprint (md5 after
    lowercase/punctuation/whitespace canonicalization) — catches
    trivially-mutated copies that exact hashing misses."""
    return (
        documents.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count("*").cast("long").alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def winnow_fingerprints(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer, Wilkerson,
    Aiken — SIGMOD 2003, the MOSS scheme): hash every character k-gram
    of the normalized text, slide a window of ``window`` consecutive
    gram hashes, keep the minimum of each window; the distinct minima
    are the document's fingerprint set.  Guarantee: any shared
    substring of length >= window + k - 1 contributes at least one
    shared fingerprint — the rolling-hash selection makes fingerprints
    position-robust where head-anchored sampling is not.

    md5 (lexicographic min) rather than xxhash64 so the selection is
    reproducible in ANSI SQL for the oracle; swap the hash for
    xxhash64 in production for cheaper bytes.  Documents with fewer
    than k + window - 1 normalized characters produce no fingerprints
    (winnowing is undefined below one full window).

    Returns ``(doc_id, fp)``.  Scale: per-gram rows partial-minimize
    inside a per-document window sort — the shuffle is keyed on the
    document id, and only distinct (id, min-hash) pairs leave the
    aggregation.
    """
    normed = ensure_parallelism(
        documents.select(
            F.col(id_col).alias("doc_id"), normalize_text(F.col(text_col)).alias("norm")
        )
    ).where(F.length("norm") >= k)
    grams = normed.select(
        "doc_id",
        (F.length("norm") - (k - 1)).alias("n_grams"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("norm") - (k - 1)),
                lambda i: F.md5(F.substring(F.col("norm"), i, F.lit(k))),
            )
        ).alias("pos", "h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.currentRow, window - 1
    )
    return (
        grams.withColumn("fp", F.min("h").over(w))
        .where(F.col("pos") <= F.col("n_grams") - window)  # full windows only (pos is 0-based)
        .select("doc_id", "fp")
        .distinct()
    )


def substring_overlap_pairs(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sub_len: int = 50,
    stride: int = 1,
    max_gram_docs: int = 1000,
) -> DataFrame:
    """Exact long-substring overlap detection — the seed step of
    exact-substring training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    pairs of documents sharing at least one identical ``sub_len``-char
    run of normalized text, found via a digest inverted index (never
    a cross join).  Returns ``(id_a, id_b, n_shared)`` with
    id_a < id_b, where ``n_shared`` counts the distinct shared
    ``sub_len``-gram digests.

    ``stride`` samples every stride-th starting position on ONE side
    of the index (the probe side keeps every position), preserving the
    guarantee for substrings of length >= ``sub_len + stride - 1`` —
    the standard seed-and-stride trade.  stride=1 is fully exact at
    ``sub_len``.

    Scale: the shuffle carries (id, 60-bit digest) rows only — the
    gram digest is the first 15 hex chars of the md5 parsed as a long
    (same construction as the simhash token hash), so text never
    leaves the scan projection and every downstream exchange moves 8
    bytes per gram; row growth is ~len/stride per document.  A 60-bit
    space makes accidental digest collisions ~n^2/2^61 (immaterial at
    corpus scale, and a collision only ever ADDS a candidate pair).
    ``max_gram_docs`` drops degenerate grams (boilerplate shared by
    more than that many docs) before the self-join can go quadratic,
    exactly the minhash bucket-cap posture.  md5 rather than xxhash64
    so the SQL oracle replays the identical index; production swaps
    the digest for xxhash64.
    """
    normed = ensure_parallelism(
        documents.select(
            F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("norm")
        )
    ).where(F.length("norm") >= sub_len)
    n_pos = F.length("norm") - (sub_len - 1)

    def grams(step: int) -> DataFrame:
        return normed.select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.floor((n_pos - 1) / F.lit(step)).cast("int")
                    ),
                    lambda j: F.conv(
                        F.substring(
                            F.md5(F.substring(F.col("norm"), j * step + 1, sub_len)),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long"),
                )
            ).alias("h"),
        ).distinct()

    seed = grams(stride)
    if stride == 1:
        # seed doubles as the probe side: persist it so the gram
        # explode + md5 digest + distinct (the dominant scan) runs
        # once, not once per join side (stride > 1 builds genuinely
        # different gram sets per side — nothing is shared there).
        seed = seed.transform(tracked_persist)
    probe = seed if stride == 1 else grams(1)
    sized = probe.withColumn(
        "ndocs", F.count("*").over(Window.partitionBy("h"))
    ).where(F.col("ndocs") <= max_gram_docs)
    a = seed.select(F.col("id").alias("id_a"), "h")
    b = sized.select(F.col("id").alias("id_b"), "h")
    # Both join inputs are distinct (id, h) sets, so each shared gram
    # contributes exactly one row per pair: plain COUNT(*) equals
    # COUNT(DISTINCT h) without the per-group dedup pass.
    return (
        a.join(b, on="h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def _shingle_rows(
    documents: DataFrame, *, text_col: str, id_col: str, shingle_len: int
) -> DataFrame:
    """(id, shingle) exploded rows.  Normalization is staged into its
    own projection so the regexp runs once per document; the shingle
    transform then only does substrings of a plain attribute."""
    normed = ensure_parallelism(
        documents.select(
            F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("norm")
        )
    )
    return normed.select(
        "id", F.explode(char_shingles_normed(F.col("norm"), shingle_len)).alias("shingle")
    )


def _minhash_signatures(
    shingle_rows: DataFrame, num_hashes: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(id, sig: array): signature element i is min over shingles of
    h_i(shingle) — the Broder / MMDS ch.3 construction as
    ``num_hashes`` parallel MIN aggregates.  Partial aggregation
    computes the mins map-side, so the shuffle per document is exactly
    ``num_hashes`` values.

    ``hash_fn``:

    * ``"xxhash64"`` (default, the scale path): h_i = xxhash64(s, i),
      8-byte longs in the shuffle.
    * ``"md5"``: h_i = the i%8-th 4-hex-char slice of md5('i//8:' || s),
      lexicographic min over the fixed-width hex slices (equal to the
      numeric min of the 16-bit values they encode) — byte-for-byte
      reproducible in ANSI SQL (DuckDB ``md5``), which is what makes
      the recall oracle exact.  One digest yields eight signature
      elements (the one-permutation-hashing trick, bit-sliced), so the
      md5 path costs num_hashes/8 digests per shingle, not num_hashes.
      16-bit mins trade a little resolution for half the digest work:
      with s shingles per doc the min sits near 65536/s, and the
      chance two UNRELATED docs agree on an element by collision is
      ~s/65536 (<1% for s<=600) — it only ever creates extra LSH
      candidates, which the exact-Jaccard verify then rejects, so the
      output contract is unaffected.  The digests are staged in their
      own projection so the aggregate only slices plain attributes
      (no per-min re-hash).

      The returned sig is ``array<bigint>`` in BOTH variants: the md5
      path convs each post-aggregation hex min to its numeric value —
      one conv per document per element (not per shingle), after which
      everything downstream (band keys, the bucket self-join payload,
      the signature-agreement screen) runs on longs instead of
      strings.  This is purely a representation change: numeric min ==
      lexicographic min on fixed-width hex, so the selected signature
      values are identical and the SQL oracle (which stays in hex) sees
      the same pairs.  Measured at sf0.1 the string->long handoff cuts
      the full md5 dedup from ~5.8 s to near the xxhash64 variant.
    """
    staged, aggs, elems = _sig_parts(shingle_rows, num_hashes, hash_fn)
    mins = staged.groupBy("id").agg(*aggs)
    return mins.select("id", F.array(*elems).alias("sig"))


def _sig_parts(shingle_rows, num_hashes: int, hash_fn: str):
    """(staged_rows, min_aggs, long_elems) for a minhash signature
    aggregation — shared by ``_minhash_signatures`` and the combined
    signature+shingle-set aggregate in ``minhash_dedup`` so both run
    the identical hash construction."""
    if hash_fn == "md5":
        assert num_hashes % 8 == 0, "md5 variant slices 8 sig elements per digest"
        staged = shingle_rows.select(
            "id",
            "shingle",
            *[
                F.md5(F.concat(F.lit(f"{k}:"), F.col("shingle"))).alias(f"_m{k}")
                for k in range(num_hashes // 8)
            ],
        )
        aggs = [
            F.min(F.substring(F.col(f"_m{i // 8}"), (i % 8) * 4 + 1, 4)).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
        elems = [
            F.conv(F.col(f"_h{i}"), 16, 10).cast("long") for i in range(num_hashes)
        ]
    else:
        staged = shingle_rows
        aggs = [
            F.min(F.xxhash64("shingle", F.lit(i))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
        elems = [F.col(f"_h{i}") for i in range(num_hashes)]
    return staged, aggs, elems


def _band_keys(sig, bands: int, rows: int, hash_fn: str):
    # Both variants carry array<bigint> signatures (the md5 variant
    # convs its hex mins to longs post-aggregation), so the numeric
    # band hash applies to both.  Bucket equality == band-slice
    # equality either way (the bucket hash only partitions; the oracle
    # replays slice equality via md5 bucket strings — same partition,
    # xxhash64-collision-negligible), so the md5 variant's results
    # remain value-identical to the SQL replay.
    del hash_fn
    return band_hashes(sig, bands, rows)


def _bucket_pairs(
    sigs: DataFrame, bands: int, rows: int, max_bucket_size: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """LSH band-bucket self-join: (id_a, id_b) with id_a < id_b for
    every pair sharing at least one band bucket, with degenerate
    buckets (> max_bucket_size members) dropped before the join."""
    buckets = sigs.select(
        "id",
        F.posexplode(_band_keys(F.col("sig"), bands, rows, hash_fn)).alias("band", "bucket"),
    )
    sized = buckets.withColumn(
        "bsz", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).where(F.col("bsz") <= max_bucket_size)
    a = sized.select("band", "bucket", F.col("id").alias("id_a"))
    b = sized.select("band", "bucket", F.col("id").alias("id_b"))
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_candidates(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidate pairs ``(id_a, id_b)`` with id_a < id_b.

    shingle -> minhash -> band -> bucket -> bucket-join, the classic
    MMDS ch.3 pipeline.  With k=32 hashes and b=8 bands (r=4), the
    candidate threshold is (1/b)^(1/r) ~ 0.59 Jaccard.
    """
    rows = num_hashes // bands
    sh = _shingle_rows(documents, text_col=text_col, id_col=id_col, shingle_len=shingle_len)
    sigs = _minhash_signatures(sh, num_hashes, hash_fn)
    return _bucket_pairs(sigs, bands, rows, max_bucket_size, hash_fn)


def minhash_dedup(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates filtered by exact
    character-shingle Jaccard >= threshold.  Returns
    ``(id_a, id_b, jaccard)`` (jaccard rounded to 6 places).
    ``hash_fn="md5"`` selects the SQL-reproducible signature variant
    (see ``_minhash_signatures``) used by the recall oracle.

    Verification is two-stage: candidates are first screened by the
    *signature-estimated* Jaccard (fraction of agreeing minhash
    elements — an unbiased estimator with stderr
    sqrt(t(1-t)/num_hashes)), cut 2 standard errors below the
    threshold; only survivors pay the exact shingle-set intersection.
    The LSH s-curve admits many ~0.5-similarity candidates at the
    default (b=8, r=4) parameters, and screening them with 32 integer
    comparisons instead of a set intersection over hundreds of
    shingles is what keeps verification off the critical path at
    scale.
    """
    rows = num_hashes // bands
    sh = _shingle_rows(documents, text_col=text_col, id_col=id_col, shingle_len=shingle_len)
    # ONE aggregation produces both the signature and the exact
    # shingle set: the signature branch and the verify branch used to
    # re-scan, re-normalize, and re-shuffle every shingle row
    # independently (2x the dominant cost).  The combined result is
    # doc-count-sized rows of (id, 32 longs, shingle set) — persisted
    # MEMORY_AND_DISK so the verify join reads it back instead of
    # recomputing; the ContextCleaner reclaims the blocks when the
    # returned DataFrame is garbage collected.  At 100 TB the persist
    # spills to local disk (it is the same data the verify branch
    # would otherwise re-shuffle); if executors are disk-tight,
    # swapping the persist for a temp-table write keeps the plan.
    staged, aggs, elems = _sig_parts(sh, num_hashes, hash_fn)
    combo = (
        staged.groupBy("id")
        .agg(*aggs, F.collect_set("shingle").alias("sh_set"))
        .select("id", F.array(*elems).alias("sig"), "sh_set")
        .transform(tracked_persist)
    )
    sigs = combo.select("id", "sig")
    # Carry the signature through the bucket self-join so screening is
    # an inline expression on the join output, not two more joins back
    # to the signature table.
    buckets = sigs.select(
        "id", "sig",
        F.posexplode(_band_keys(F.col("sig"), bands, rows, hash_fn)).alias("band", "bucket"),
    )
    sized = buckets.withColumn(
        "bsz", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).where(F.col("bsz") <= max_bucket_size)
    a = sized.select("band", "bucket", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sized.select("band", "bucket", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "est",
            F.aggregate(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            ).cast("double")
            / num_hashes,
        )
    )
    stderr = (threshold * (1.0 - threshold) / num_hashes) ** 0.5
    screened = (
        est.where(F.col("est") >= threshold - 2.0 * stderr)
        .select("id_a", "id_b")
        .distinct()
    )
    sets_ = combo.select("id", F.col("sh_set").alias("sh"))
    return (
        screened.join(sets_.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), on="id_a")
        .join(sets_.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def dedup_clusters(
    pairs: DataFrame,
    *,
    documents: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Transitive dedup keep-list from near-duplicate *pairs*: the
    consumable a real pipeline wants.  Near-duplication is not
    transitive (A~B and B~C does not imply A~C), but keeping one
    representative per *connected component* of the pair graph is the
    standard conservative policy — this runs hash-min connected
    components (traverse.connected_components) over the pairs and
    returns ``(id_col, cluster_id, keep)`` where ``cluster_id`` is the
    minimum doc id in the component and ``keep`` marks the one row per
    cluster to retain.

    When ``documents`` is given, docs appearing in no pair are emitted
    as their own singleton clusters (keep = true), so the output is a
    complete per-document verdict, not just the entangled subset.

    Scale: the pair graph is tiny relative to the corpus (it contains
    only near-duplicate docs), so the iterative CC runs over the
    already-reduced edge set; the singleton fill-in is one broadcast-
    friendly left join keyed on the doc id.
    """
    from .traverse import connected_components

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Co-partitioned at the session's shuffle width (r13): no
    # per-round broadcast build of the label table; the pair-graph
    # edge side is shuffled once instead.
    width = int(sym.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    comp = connected_components(sym, loop_shuffle_partitions=width)
    out = comp.select(
        F.col("vertex").alias(id_col), F.col("component").alias("cluster_id")
    )
    if documents is not None:
        out = (
            documents.select(id_col)
            .join(out, on=id_col, how="left")
            .select(
                id_col,
                F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            )
        )
    return out.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )


def _jaccard_pairs_from_items(items: DataFrame, threshold: float) -> DataFrame:
    """Exact set-Jaccard pairs from DISTINCT ``(id, item)`` rows:
    inverted-index join on shared items (pairs sharing zero items never
    meet), with the exact length prefilter applied inside the join —
    J(x,y) >= t implies min(|x|,|y|)/max(|x|,|y|) >= t, so
    size-incompatible pairs are discarded before the pair aggregation.
    Returns ``(id_a, id_b, jaccard)`` with jaccard rounded to 6."""
    # Persist the counted inverted index: both sides of the self-join
    # read it, and without the persist the ENTIRE upstream item
    # pipeline (tokenize/shingle explode + distinct + the per-id count
    # join) executes once per side — two full corpus passes instead of
    # one at 100 TB.  Same ContextCleaner reclamation contract as
    # minhash_dedup's combo persist.
    inv = items.join(
        items.groupBy("id").agg(F.count("*").cast("int").alias("n")), on="id"
    ).select("id", "n", items.columns[1]).transform(tracked_persist)
    item_col = items.columns[1]
    pairs = (
        inv.alias("x")
        .join(
            inv.alias("y"),
            on=[
                F.col(f"x.{item_col}") == F.col(f"y.{item_col}"),
                F.col("y.n") * 1.0 >= threshold * F.col("x.n"),
                F.col("x.n") * 1.0 >= threshold * F.col("y.n"),
            ],
        )
        .where(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(
            F.count("*").cast("double").alias("inter"),
            F.first("x.n").alias("na"),
            F.first("y.n").alias("nb"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return pairs


def shingle_jaccard_pairs(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact character-shingle Jaccard pairs above threshold — the
    ground truth ``minhash_dedup`` approximates (same shingle set, same
    similarity), so ``|minhash pairs| / |these pairs|`` is the measured
    LSH recall.  Inverted-index join, worst-case quadratic: a
    verification tool, not a scale path (that's what MinHash is for).
    Returns ``(id_a, id_b, jaccard)``."""
    sh = _shingle_rows(documents, text_col=text_col, id_col=id_col, shingle_len=shingle_len)
    return _jaccard_pairs_from_items(sh, threshold)


def token_ngrams(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_len: int = 3,
) -> DataFrame:
    """Distinct token n-grams per document: ``(id, g)`` over normalized
    whitespace tokens — the shared vocabulary of ``ngram_jaccard_pairs``
    and ``decontaminate``.

    n-grams via posexplode + window LEADs instead of a higher-order
    transform: HOFs are interpreted (one slice+concat per position),
    while the window form stays in vectorized operators — ~4x faster
    at sf0.1.  concat_ws skips the NULL leads, so a document shorter
    than ngram_len yields exactly one gram (its whole token run),
    and a zero-token document yields the empty gram — both matching
    the SQL oracle's slice semantics."""
    toks = ensure_parallelism(
        documents.select(
            F.col(id_col).alias("id"), tokens(normalize_text(F.col(text_col))).alias("t")
        )
    )
    tok_rows = toks.select(
        "id", F.size("t").alias("ntok"), F.posexplode_outer("t").alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    lead_cols = [F.lead("tok", i).over(w) for i in range(1, ngram_len)]
    return (
        tok_rows.withColumn("g", F.concat_ws(" ", F.col("tok"), *lead_cols))
        .where(
            (F.col("pos") <= F.col("ntok") - ngram_len)
            | (
                (F.col("ntok") < ngram_len)
                & ((F.col("pos") == 0) | F.col("pos").isNull())
            )
        )
        .select("id", "g")
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_len: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-n-gram Jaccard similarity for all pairs above
    threshold — the brute-force ground truth the sketch methods
    approximate.  All-pairs via an inverted-index join on shared
    n-grams (documents sharing zero n-grams never meet), not a blind
    cross join; still quadratic in the worst case, so reserve for
    bounded subsets / verification.  Returns (id_a, id_b, jaccard)."""
    grams = token_ngrams(
        documents, text_col=text_col, id_col=id_col, ngram_len=ngram_len
    )
    # Digest the gram to a 60-bit long before the self-join (the
    # substring_overlap_pairs construction): the inverted index then
    # exchanges 8-byte keys instead of ~20-char gram strings.  A
    # digest collision merges two grams — probability ~n^2/2^61, and
    # the SQL oracle replays the identical digests so both engines
    # would see the same merge.
    g64 = grams.select(
        "id",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long").alias("h"),
    ).distinct()
    return _jaccard_pairs_from_items(g64, threshold)


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_len: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    token ``ngram_len``-gram with the evaluation set — the standard
    n-gram-overlap contamination test used when preparing LLM training
    corpora against held-out benchmarks (GPT-3 used 13-grams; the
    default 8 suits the shorter synthetic docs).

    Returns one row per train document:
    ``(doc_id, n_grams, n_hits, contaminated)`` where ``n_hits`` counts
    the train doc's distinct n-grams that appear anywhere in the eval
    set.  Keep rule downstream: drop ``contaminated`` (or threshold on
    ``n_hits / n_grams``).

    Scale: the eval-side gram set is DISTINCT grams only — benchmarks
    are tiny next to a 100 TB corpus, so it broadcasts
    (``broadcast_eval``) and the contamination test is a map-side
    broadcast join: the corpus-sized gram table never shuffles.  With
    a huge eval set, flip ``broadcast_eval=False`` for a shuffled
    hash join on the gram string.  The left join + count aggregation
    re-collapses to one row per doc with map-side partial aggregation.
    """
    g_train = token_ngrams(train, text_col=text_col, id_col=id_col, ngram_len=ngram_len)
    # token_ngrams emits the empty gram '' for a zero-token document;
    # dropping it from the EVAL side (only) means empty train and eval
    # docs never cross-flag each other as "contaminated" — an empty
    # doc shares no real n-grams with anything.  The train side keeps
    # its '' row so every train doc still yields exactly one output
    # row (with n_hits = 0).
    g_eval = (
        token_ngrams(eval_docs, text_col=text_col, id_col=id_col, ngram_len=ngram_len)
        .where(F.col("g") != "")
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    if broadcast_eval:
        g_eval = F.broadcast(g_eval)
    return (
        g_train.join(g_eval, "g", "left")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count("hit").cast("long").alias("n_hits"),
            (F.count("hit") > 0).alias("contaminated"),
        )
    )


def _simhash_df(
    documents: DataFrame, *, text_col: str, id_col: str, bands: int,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sh: bigint, bandv: array<bigint>): Charikar SimHash.
    Value bit i of ``sh`` is 1 iff sum over tokens of (+1 if bit i of
    hash(token) else -1) > 0.  Documents with zero tokens are
    excluded (empty text is exact-dedup territory, not near-dup).

    ``hash_fn="xxhash64"`` (default): 64-bit token hashes, 64-bit
    simhash.  ``hash_fn="md5"``: the token hash is the first 15 hex
    digits of md5 parsed as a 60-bit integer — exactly
    ``conv(substring(md5(tok), 1, 15), 16, 10)`` — so the whole
    pipeline is reproducible in ANSI SQL (nibble-sum reconstruction in
    DuckDB); the simhash is then 60 bits wide.  Same plan shape.

    Shape: explode the 64 bit positions per token hash and aggregate
    (id, bit) sign sums, then fold the 64 rows per document into the
    packed hash + band values with conditional shift sums.  A 64-wide
    single-row aggregate would shuffle less (one row per id vs 64) but
    its generated code takes seconds to JIT; this form keeps every
    stage's codegen tiny, and both shuffles are partial-aggregated
    map-side so the per-document exchange volume is a fixed ~64 rows
    of three ints either way.

    Packing safety under ANSI arithmetic: the shift results are
    distinct powers of two (bit 63 = Long.MIN_VALUE), so their sum is
    exactly the two's-complement value and no partial order of
    additions can overflow."""
    n_bits = 60 if hash_fn == "md5" else 64
    assert n_bits % bands == 0
    width = n_bits // bands
    tok_rows = ensure_parallelism(
        documents.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok"),
        )
    )
    if hash_fn == "md5":
        th = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    else:
        th = F.xxhash64("tok")
    tok_hashes = tok_rows.select("id", th.alias("th"))
    bit_sums = (
        tok_hashes.select(
            "id", "th", F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("i")
        )
        .groupBy("id", "i")
        .agg(F.sum(F.when(F.bit_get("th", F.col("i")) == 1, 1).otherwise(-1)).alias("s"))
    )
    set_bit = F.col("s") > 0
    one = "CAST(1 AS BIGINT)"
    return bit_sums.groupBy("id").agg(
        F.sum(
            F.when(set_bit, F.expr(f"shiftleft({one}, CAST(i AS INT))"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("sh"),
        F.array(
            *[
                F.sum(
                    F.when(
                        set_bit & (F.col("i") >= j * width) & (F.col("i") < (j + 1) * width),
                        F.expr(f"shiftleft({one}, CAST(i - {j * width} AS INT))"),
                    ).otherwise(F.lit(0).cast("long"))
                )
                for j in range(bands)
            ]
        ).alias("bandv"),
    )


def simhash_dedup(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: band-blocked candidates verified by
    Hamming distance <= max_hamming on the 64-bit simhash.  With 4
    bands, any pair within distance 3 shares a band (pigeonhole), so
    recall is exact for the default threshold.  Returns
    (id_a, id_b, hamming)."""
    sh = _simhash_df(documents, text_col=text_col, id_col=id_col, bands=bands, hash_fn=hash_fn)
    # Persist the banded signature table: both candidate-join sides
    # read it, and the simhash pipeline above it (token explode +
    # 64-bit sign sums, two shuffles) should run once, not per side.
    blocked = sh.select(
        "id", "sh", F.posexplode("bandv").alias("band", "bv")
    ).transform(tracked_persist)
    a = blocked.select("band", "bv", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = blocked.select("band", "bv", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, on=["band", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_allpairs(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Brute-force SimHash ground truth: Hamming distance over ALL
    pairs (no band blocking).  ``simhash_dedup`` with ``bands >
    max_hamming`` must return exactly this set (pigeonhole: a pair
    within distance d differs in at most d bands, so with more bands
    than differing bits some band matches) — comparing the two is the
    measured-recall contract for the banding.  O(n^2) verification
    tool; returns (id_a, id_b, hamming)."""
    # Persisted: the all-pairs join reads the signature table twice.
    sh = _simhash_df(
        documents, text_col=text_col, id_col=id_col, bands=1, hash_fn=hash_fn
    ).transform(tracked_persist)
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def prefix_jaccard_join(
    documents: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT set-similarity self-join by prefix filtering (the
    PPJoin/AllPairs family — the exact counterpart of the MinHash-LSH
    path: no false negatives, no false positives, and still never
    all-pairs): emit every document pair whose DISTINCT-TOKEN Jaccard
    is >= ``threshold_num / threshold_den``.

    The pruning theorem: order every token by ascending global
    frequency (ties by token text — one total order shared by all
    documents) and keep each document's first
    ``p = n - ceil(t * n) + 1`` tokens as its PREFIX; two sets with
    Jaccard >= t must share at least one prefix token, so the
    candidate set is the prefix inverted-index join — and prefixes
    are by construction each document's RAREST tokens, so the index
    buckets are small (the frequency ordering IS the skew guard).
    Candidates are then verified with an exact intersection count.

    All arithmetic is integer-exact: the prefix length uses integer
    ceil, and the threshold test cross-multiplies
    (``den * inter >= num * union``), so the only float is the final
    reported jaccard (one IEEE division of exact longs).

    Returns ``(id_a, id_b, inter, n_a, n_b, jaccard)`` with
    ``id_a < id_b``.

    Scale: one token explode + one frequency aggregation + a
    per-document window rank; the candidate join carries prefix
    tokens only; verification joins the token table against the
    (small) candidate set — each shuffle is keyed and bucketed,
    nothing quadratic in the corpus.
    """
    t_num, t_den = int(threshold_num), int(threshold_den)
    # Persist the exploded distinct-token table: FIVE consumers read
    # it (the frequency agg, the size agg, the ranked prefix build,
    # and both verification sides), and without the persist each one
    # re-runs the normalize+tokenize+explode scan — five corpus passes
    # instead of one at 100 TB (r12 plan capture showed the duplicated
    # scan subtrees).  ``sizes`` (doc-count rows, three consumers)
    # gets the same treatment.  ContextCleaner reclamation contract as
    # minhash_dedup's combo persist.
    toks = (
        documents.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(tokens(normalize_text(F.col(text_col))))
            ).alias("tk"),
        )
        .where(F.col("tk") != "")
        .transform(tracked_persist)
    )
    freq = toks.groupBy("tk").agg(F.count("*").alias("f"))
    sizes = (
        toks.groupBy("id").agg(F.count("*").alias("n")).transform(tracked_persist)
    )
    ranked = toks.join(freq, "tk").select(
        "id",
        "tk",
        F.row_number()
        .over(Window.partitionBy("id").orderBy("f", "tk"))
        .alias("rn"),
    )
    prefix_len = F.expr(f"n - (({t_num} * n + {t_den} - 1) div {t_den}) + 1")
    # Persisted for the same reason: the candidate join reads the
    # prefix table twice (p1/p2), and the window rank above it is a
    # full token shuffle that should run once.
    pre = (
        ranked.join(sizes, "id")
        .where(F.col("rn") <= prefix_len)
        .transform(tracked_persist)
    )
    p1 = pre.select(F.col("tk"), F.col("id").alias("id_a"))
    p2 = pre.select(F.col("tk"), F.col("id").alias("id_b"))
    cand = (
        p1.join(p2, "tk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = toks.select(F.col("id").alias("id_a"), "tk")
    b = toks.select(F.col("id").alias("id_b"), "tk")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "tk"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .where(
            t_den * F.col("inter")
            >= t_num * (F.col("n_a") + F.col("n_b") - F.col("inter"))
        )
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            "inter",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def edit_dedup(
    documents: DataFrame,
    *,
    max_edits: int = 10,
    ngram_len: int = 5,
    max_bucket: int = 16,
    len_band: int | None = None,
) -> DataFrame:
    """Edit-distance near-duplicate pairs (fuzzy dedup): candidates
    blocked by shared normalized token n-grams, verified with the
    built-in JVM ``levenshtein`` under an early-exit threshold.

    Completes the near-dup family along the axis the set-based
    variants can't see: MinHash/SimHash/prefix-join all treat a
    document as a BAG of shingles, so a rewrite that permutes tokens
    without changing the set is invisible to them — Levenshtein
    distance on the raw text counts every insertion/deletion/
    substitution in ORDER.  (Reference analogue: none — the reference
    has no text surface at all; this is north-star extension scope,
    same family as minhash_dedup above.)

    Blocking: a pair within ``max_edits`` character edits can break at
    most ~``max_edits`` of its token n-gram runs, so near-dup pairs
    share many exact n-grams — the candidate set is the n-gram
    inverted-index self-join (the ``decontaminate`` vocabulary,
    ``token_ngrams``), never all-pairs.  Degenerate grams (shared by
    more than ``max_bucket`` docs = boilerplate) are dropped before
    the join, the standard LSH-bucket cap.  A cheap length-band
    prefilter (|len(a)-len(b)| <= max_edits, a lower bound on edit
    distance) prunes survivors before the O(len^2) DP runs; passing
    ``len_band`` overrides the bound (it can only widen it safely).

    Scale: one exchange keyed on the gram string for the self-join
    (AQE skew-split applies), one distinct on (id_a, id_b), two
    id-keyed joins to fetch the texts, then a pure map-side verify.
    The DP is JVM codegen (`levenshtein(l, r, threshold)` stops as
    soon as the band exceeds the threshold) — no Python in the path.
    """
    band = max_edits if len_band is None else len_band
    grams = token_ngrams(documents, ngram_len=ngram_len).where(F.col("g") != "")
    # Persist the capped gram table: both candidate-join sides read
    # it, and without the persist the tokenize+explode scan AND the
    # bucket-size window shuffle execute once per side (two corpus
    # passes).  Same reclamation contract as minhash_dedup's combo.
    sized = (
        grams.withColumn("bsz", F.count("*").over(Window.partitionBy("g")))
        .where(F.col("bsz") <= max_bucket)
        .transform(tracked_persist)
    )
    a = sized.select("g", F.col("id").alias("doc_a"))
    b = sized.select("g", F.col("id").alias("doc_b"))
    cand = (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = documents.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta")
    )
    tb = documents.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb")
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(
            F.abs(F.length("_ta") - F.length("_tb")) <= F.lit(int(band))
        )
        .withColumn(
            "lev", F.levenshtein(F.col("_ta"), F.col("_tb"), int(max_edits))
        )
        .where(F.col("lev") >= 0)
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            F.col("lev").cast("int").alias("lev"),
        )
    )


def cross_source_duplicates(
    documents: DataFrame,
    *,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Mirror detection: for every unordered pair of sources, how many
    distinct normalized-text fingerprints appear in BOTH — the matrix
    that tells a crawl-curation pipeline which domains mirror each
    other (and therefore which source-level dedup to schedule).

    Scale posture: the fingerprint projection is map-side (32-hex
    digest, text never shuffles); the distinct (fp, source) set is one
    exchange; the per-fp source self-join explodes only fingerprints
    that actually repeat across sources, and its fan-out per fp is
    bounded by the source count (a domain catalog, not the corpus).

    Returns ``(source_a, source_b, n_shared_fps)``, source_a < source_b.
    """
    from ..functions.textfns import fingerprint

    # Persisted: the per-fp source self-join reads the distinct
    # fingerprint set twice; without the persist the fingerprint scan
    # and its distinct exchange run once per side.
    fps = documents.select(
        fingerprint(F.col(text_col)).alias("fp"),
        F.col(source_col).alias("source"),
    ).distinct().transform(tracked_persist)
    a = fps.select("fp", F.col("source").alias("source_a"))
    b = fps.select("fp", F.col("source").alias("source_b"))
    return (
        a.join(b, on="fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared_fps"))
    )
