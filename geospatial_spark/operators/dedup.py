"""Deduplication operators over the web-page corpus — the training-data-
pipeline half of the engine (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

All four schemes are pure DataFrame algebra over the shared JVM-native
60-bit hash (functions.texthash) — **no Python UDF anywhere**, so every
stage is whole-stage-codegen'd and every operator has an exact DuckDB
oracle (sources.oracle_text mirrors the arithmetic).

Scale design (the 100 TB story):
* shingle/token explosion is map-side only (explode → hash → local partial
  agg); the first exchange is the per-doc signature groupBy, whose output is
  ONE row per document (64 ints) — shuffle volume ~ docs, not tokens.
* LSH candidate generation is an equi self-join on (band, band_key): hash
  shuffle on a well-distributed key; identical-text clusters all land in one
  band bucket → AQE skew-join splits them; candidate pairs are verified with
  an exact Jaccard join so false positives cost only compute, never
  correctness.
* exact dedup is one partial-aggregatable groupBy on sha2(text).

The natural fixture: `pages` replicates each document 16× with 0-3 appended
" near <City>." mentions — replicas are exact dups (same draw) or near-dups
(~0.85-0.99 shingle Jaccard), the precise regime MinHash/SimHash target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import texthash as TH


def dedup_exact(df: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: sha256(text) → (n_copies, keeper=min id).

    Returns only groups with >1 copy.  One shuffle (partial agg first)."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keeper"))
        .filter(F.col("n_copies") > 1)
    )


def _shingle_hash_rows(
    df: DataFrame, id_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Raw (id, shingle-hash) rows (NOT deduplicated) — shared lineage for
    shingle_hashes / shingle_sets.

    Built entirely map-side: the token array is shifted against itself with
    ``slice`` (offsets 0..n-1, common length m = #tokens - n + 1), the n
    shifted copies are ``arrays_zip``-ed into per-position structs, and one
    ``explode`` emits the shingle rows — NO exchange anywhere in this
    lineage.  This replaced a posexplode + window ``lead`` formulation
    whose window shuffled (and sorted) the FULL token stream keyed by doc
    id — the dominant cost of dedup_minhash at sf0.1 and a 100 TB
    scale-killer (tokens ≫ docs).  A higher-order ``transform`` was also
    rejected earlier: HOF lambdas are interpreted and re-evaluate captured
    expressions per element, re-running the tokenizer regexp ~3×shingles
    times per row (measured 40× slower).  slice/arrays_zip/explode are
    plain codegen expressions, so the regexp runs once per row and
    downstream per-doc aggregations combine map-side (docs are single
    source rows, so partial aggs see the doc's full shingle set locally)."""
    n = TH.SHINGLE_N
    tok = df.select(
        F.col(id_col).alias("id"),
        TH.tokens(F.col(text_col)).alias("tk"),
    ).filter(F.size("tk") >= n)
    m = F.size("tk") - F.lit(n - 1)
    zipped = F.arrays_zip(
        *[F.slice("tk", j + 1, m).alias(f"t{j}") for j in range(n)]
    )
    return tok.select("id", F.explode(zipped).alias("s")).select(
        "id",
        TH.h60(
            F.concat_ws(" ", *[F.col(f"s.t{j}") for j in range(n)])
        ).alias("h"),
    )


def shingle_hashes(
    df: DataFrame, id_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Distinct (id, shingle-hash) relation — row-form input to minhash +
    verify (see shingle_sets for the one-shuffle array form)."""
    return _shingle_hash_rows(df, id_col, text_col).distinct()


def shingle_sets(
    df: DataFrame, id_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """(id, hs array<bigint>) — per-doc distinct shingle-hash SET via a
    single keyed shuffle (``collect_set``), replacing the row-form's
    distinct-then-collect_list pair of wide exchanges.  Everything
    downstream (signatures via explode, verify via sort_array) stays on
    the same id-hash-partitioning, so Catalyst inserts no further
    exchange for the signature groupBy (measured ~25% off dedup_minhash
    end-to-end at sf0.1)."""
    return (
        _shingle_hash_rows(df, id_col, text_col)
        .groupBy("id")
        .agg(F.collect_set("h").alias("hs"))
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(id, m0..m63): one row per doc after the signature groupBy."""
    return sh.groupBy("id").agg(*TH.minhash_min_aggs("h"))


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """(id, band, key) relation — one row per (doc, LSH band)."""
    keys = sigs.select("id", *[TH.band_key(b) for b in range(TH.MINHASH_BANDS)])
    return keys.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"bk{b}").alias("key")
                    )
                    for b in range(TH.MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_bucket_stats(sigs: DataFrame, max_bucket: int) -> DataFrame:
    """One-row overflow report: (n_buckets, n_over_cap, max_bucket_size).
    Cheap partial-agg job; pipelines log it next to capped candidate runs
    so truncation is never silent."""
    sizes = _minhash_bands(sigs).groupBy("band", "key").count()
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("count") > max_bucket).cast("long")).alias("n_over_cap"),
        F.max("count").alias("max_bucket_size"),
    )


def _bucket_pairs(rel: DataFrame, keys: list[str], val, cap: int) -> DataFrame:
    """Capped candidate pairs (a < b in `val` order) from (keys…, member)
    buckets — the shared scale-safe pair generator for the LSH / SimHash /
    prefix-gram families.

    Two stages sharing ONE keyed exchange:

    1. CAP, streaming: row_number window over `keys` ordered by `val`
       keeps the smallest `cap` members.  The window's sort is spillable
       and never holds more than a partition's rows — a million-member
       boilerplate bucket streams through.  (A prior formulation capped
       with ``slice(sort_array(collect_list(...)), 1, cap)``, which
       materializes the FULL uncapped bucket in one aggregation buffer
       before slicing — O(m) single-task memory on exactly the mega-
       cluster workload the cap exists to guard.)
    2. PAIR, in-row: the ≤cap survivors collect to a sorted array —
       bounded by `cap` BY CONSTRUCTION, and the groupBy reuses the
       window's hash partitioning so Catalyst inserts no second exchange
       — and the C(m,2) ordered pairs explode from it.  No self-join on
       the bucket key (the dominant stage of the original bands⨝bands
       formulation).

    `val` may be a column name or a struct column (struct ordering is
    lexicographic, so struct(id, payload) sorts by id when ids are unique
    per bucket).  Keep-set identical to the DuckDB row_number oracles.
    Callers add their own `.distinct()` over the projected pair columns."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(val)
    capped = (
        rel.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
    )
    buckets = (
        capped.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(val)).alias("__ms"))
        .filter(F.size("__ms") >= 2)
    )
    return _pairs_from_sorted_arrays(buckets, "__ms")


def _pairs_from_sorted_arrays(buckets: DataFrame, arr_col: str) -> DataFrame:
    """(a, b) ordered pairs exploded in-row from each bucket's sorted
    member array — the shared C(m,2) tail of _bucket_pairs and
    dedup_ngram's uncapped exact path."""
    pos = buckets.select(F.col(arr_col).alias("__ms"), F.posexplode(arr_col).alias("__i", "a"))
    return pos.select(
        "a",
        F.explode(
            F.slice(F.col("__ms"), F.col("__i") + F.lit(2), F.size("__ms"))
        ).alias("b"),
    )


def lsh_candidates(sigs: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Banded LSH: (id_a < id_b) pairs sharing at least one band key.

    ``max_bucket`` is THE 100 TB guard: without a cap, a bucket of m
    near-identical docs emits O(m²) candidate pairs — a million-member
    boilerplate cluster explodes.  Capped (smallest ``max_bucket`` ids per
    bucket — deterministic, SQL-mirrorable), pair emission is bounded by
    bands × C(max_bucket, 2) per bucket; dropped members are still
    recovered by clustering via the star-edge path (lsh_star_edges, O(m)).
    ``lsh_bucket_stats`` surfaces how many buckets overflowed.  Pair
    generation via the shared _bucket_pairs (streaming cap + in-row pair
    explode, no bands⨝bands self-join)."""
    bands = _minhash_bands(sigs)
    if max_bucket is None:
        a = bands.alias("a")
        b = bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id")),
                "inner",
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    return (
        _bucket_pairs(bands, ["band", "key"], "id", max_bucket)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )


def lsh_star_edges(sigs: DataFrame) -> DataFrame:
    """Scale-safe candidate EDGES for clustering: each bucket member links
    to the bucket-minimum id — O(m) edges per bucket instead of O(m²) pairs,
    with identical connected components over the candidate graph (a star is
    spanning).  Feed through jaccard_verify_sets + dedup_clusters."""
    from pyspark.sql import Window

    bands = _minhash_bands(sigs)
    w = Window.partitionBy("band", "key")
    return (
        bands.withColumn("__mn", F.min("id").over(w))
        .filter(F.col("id") != F.col("__mn"))
        .select(F.col("__mn").alias("id_a"), F.col("id").alias("id_b"))
        .distinct()
    )


def jaccard_verify_sets(
    cand: DataFrame, sets: DataFrame, threshold_ppm: int = 700_000
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs over the array-form
    shingle relation (``shingle_sets`` output); keeps >= threshold.

    jac_ppm = floor(1e6 * |A∩B| / |A∪B|) — exact-int inputs, IEEE double
    division, identical in both engines.

    Plan: one row of sorted shingle hashes per doc (array<bigint>, ~KBs),
    two hash joins onto the pair table, JVM ``array_intersect`` — instead
    of exploding pairs × shingles (which multiplies the pair table by the
    shingle count before re-aggregating).  The DuckDB oracle keeps the
    explode formulation; same values, different plan."""
    arrs = sets.select(
        "id",
        F.sort_array("hs").alias("arr"),
        F.size("hs").cast("bigint").alias("n"),
    )
    return _jaccard_join(cand, arrs, threshold_ppm)


def _jaccard_join(
    cand: DataFrame, arrs: DataFrame, threshold_ppm: int
) -> DataFrame:
    a = arrs.select(
        F.col("id").alias("id_a"), F.col("arr").alias("arr_a"), F.col("n").alias("na")
    )
    b = arrs.select(
        F.col("id").alias("id_b"), F.col("arr").alias("arr_b"), F.col("n").alias("nb")
    )
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint"))
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn(
            "jac_ppm",
            F.floor(F.lit(1e6) * F.col("inter") / F.col("uni")).cast("bigint"),
        )
    )
    return out.filter(F.col("jac_ppm") >= threshold_ppm).select(
        "id_a", "id_b", "inter", "uni", "jac_ppm"
    )


def dedup_minhash(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    threshold_ppm: int = 700_000,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash(64) + LSH(16×4) near-dup pairs with exact-Jaccard verify.

    The shingle relation feeds both the signature agg and the verify —
    persisted (memory-and-disk) so the text → shingle → hash pipeline runs
    once, not twice; the persist is registered with functions.caching so
    long-lived sessions can release it (round-1 advice).  ``max_bucket``
    caps per-bucket pair emission (the 100 TB guard — see lsh_candidates)."""
    from pyspark import StorageLevel

    from ..functions import caching

    sets = caching.track(
        shingle_sets(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = minhash_signatures(sets.select("id", F.explode("hs").alias("h")))
    cand = lsh_candidates(sigs, max_bucket)
    return jaccard_verify_sets(cand, sets, threshold_ppm)


def simhash_table(df: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(id, simhash): 60-bit simhash over distinct tokens (vote per bit)."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(TH.tokens(F.col(text_col)))).alias("t"),
    ).select("id", TH.h60(F.col("t")).alias("h"))
    bits = tok.groupBy("id").agg(*TH.simhash_bit_aggs("h"))
    return bits.select("id", TH.simhash_from_bits().alias("simhash"))


def _simhash_bands(st: DataFrame) -> DataFrame:
    """(id, simhash, band, key) — 4 bands × 15 bits each."""
    return st.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright(F.col("simhash"), k * TH.SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << TH.SIMHASH_BAND_BITS) - 1))
                        .alias("key"),
                    )
                    for k in range(TH.SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def dedup_simhash(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: banded (4×15-bit) candidates, exact hamming
    filter.  Any pair with hamming <= 3 shares at least one of 4 bands
    (pigeonhole) → exact recall at this radius WITHOUT a cap; ``max_bucket``
    trades that guarantee for bounded per-bucket emission (the capped subset
    keeps the `max_bucket` smallest ids per bucket — deterministic and
    oracle-mirrorable; clustering consumers should use simhash_star_edges
    instead, which needs no cap)."""
    st = simhash_table(df, id_col, text_col)
    bands = _simhash_bands(st)
    if max_bucket is not None:
        # shared _bucket_pairs generator: struct(id, simhash) sorts by id
        # (ids unique per bucket), so the keep-set equals the oracle's
        # row_number-over-id cap and the hash rides along for free.
        pairs = (
            _bucket_pairs(
                bands, ["band", "key"], F.struct("id", "simhash"), max_bucket
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sh_a"),
                F.col("b.simhash").alias("sh_b"),
            )
            .distinct()
        )
    else:
        a = bands.alias("a")
        b = bands.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id")),
                "inner",
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sh_a"),
                F.col("b.simhash").alias("sh_b"),
            )
            .distinct()
        )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_star_edges(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """O(m)-per-bucket SimHash candidate edges for clustering: bucket member
    → bucket-min id, exact hamming filter on the edge.  Same connected
    components as the all-pairs graph whenever the bucket-min is within
    radius of each member (true for the near-clique dup clusters this
    targets); a member outside the min's radius but within another
    member's is a recall approximation — documented trade for O(m²)→O(m)."""
    from pyspark.sql import Window

    bands = _simhash_bands(simhash_table(df, id_col, text_col))
    w = Window.partitionBy("band", "key")
    edges = (
        bands.withColumn("__mn", F.min("id").over(w))
        .withColumn("__mn_sh", F.min_by("simhash", "id").over(w))
        .filter(F.col("id") != F.col("__mn"))
        .select(
            F.col("__mn").alias("id_a"),
            F.col("id").alias("id_b"),
            F.col("__mn_sh").alias("sh_a"),
            F.col("simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        edges.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _ngram_doc_arrays(
    df: DataFrame, id_col: str, text_col: str, threshold_ppm: int
) -> DataFrame:
    """Per-doc gram relation for rarest-first prefix filtering:
    (id, arr = all distinct word-n-gram hashes, n = |arr|, pref = the p
    globally-rarest grams) where p = n − ⌈t·n⌉ + 1 at t =
    threshold_ppm/1e6 (exact integer arithmetic, DuckDB-mirrorable).

    The prefix-filter lemma (Bayardo et al., *Scaling Up All Pairs
    Similarity Search*, WWW'07; same scheme as SSJoin/PPJoin): order the
    gram universe globally by (document-frequency, hash); if
    J(A, B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, and removing the last ⌈t·|A|⌉ − 1
    grams of A cannot delete all of A∩B — so A's first p_A grams and B's
    first p_B grams must intersect.  Blocking on prefix grams therefore
    has EXACT recall at the threshold, and rarest-first ordering makes
    the buckets the smallest ones available (boilerplate grams shared by
    the whole corpus sort last and never become keys).

    Grams are the SAME word n-gram shingles MinHash signs
    (_shingle_hash_rows — map-side, exchange-free), so dedup_ngram is the
    exact-recall counterpart of dedup_minhash's LSH approximation on one
    shared similarity space.  Char k-grams were rejected measured: the
    synthetic corpus (and any small-alphabet text) has a low-entropy char
    k-gram universe — at k=4 only ~1.2 k distinct prefix grams exist for
    8 k docs (avg bucket 259, every bucket over a 16-cap); word 3-gram
    buckets on the same corpus average 13.9 with 3 % over-cap.

    One groupBy(id) builds everything: collect (df, h) structs, array_sort
    (lexicographic on (df, h) — the global order), slice the prefix
    in-row.  The transform lambdas only extract a struct field (no
    captured expensive expressions — the interpreted-HOF hazard doesn't
    apply).

    Scale note: global document-frequency inherently costs gram-scale
    exchanges (the gdf groupBy and the base⨝gdf equi-join, both keyed on
    the uniform 60-bit gram hash, plus the per-doc regroup by id) — the
    price of EXACT df-ordering, same class as a TF-IDF pass.  That is why
    this operator is the exact/verification tier; the probabilistic tier
    (dedup_minhash) keeps its exchanges at doc scale."""
    tp = int(threshold_ppm)
    base = shingle_hashes(df, id_col, text_col)
    gdf = base.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        base.join(gdf, "h")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("dh"))
        .withColumn("n", F.size("dh").cast("bigint"))
        .withColumn("p", F.expr(f"n - (({tp} * n + 999999) div 1000000) + 1"))
    )
    return per_doc.select(
        "id",
        F.transform("dh", lambda x: x["h"]).alias("arr"),
        "n",
        F.transform(F.slice("dh", F.lit(1), F.col("p")), lambda x: x["h"]).alias(
            "pref"
        ),
    )


def dedup_ngram(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    threshold_ppm: int = 800_000,
    max_block: int | None = None,
) -> DataFrame:
    """EXACT word-n-gram Jaccard near-dup via rarest-first prefix
    filtering (the deterministic counterpart to dedup_minhash's LSH
    approximation, on the same shingle space; see _ngram_doc_arrays for
    the All-Pairs prefix-filter lemma).  Uncapped, recall is EXACT at the
    threshold: the output is precisely every pair with jac_ppm ≥
    threshold_ppm.  This replaced md5(first-40-chars) blocking, which
    missed near-dups differing in their opening characters AND collapsed
    boilerplate-headed corpora into one O(m²) block (round-2 review
    item 8).

    ``max_block`` caps per-gram bucket membership (smallest ids kept —
    the same 100 TB guard + single-agg bucket-array pair generation as
    lsh_candidates); ``ngram_block_stats`` reports the overflow so capped
    truncation is never silent."""
    from pyspark import StorageLevel

    from ..functions import caching

    arrs = caching.track(
        _ngram_doc_arrays(df, id_col, text_col, threshold_ppm).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    pref = arrs.select("id", F.explode("pref").alias("h"))
    if max_block is not None:
        cand = (
            _bucket_pairs(pref, ["h"], "id", max_block)
            .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
            .distinct()
        )
    else:
        # exact-recall mode (correctness tier, small/verification scale):
        # NO bound on bucket membership — a degenerate corpus of m
        # identical docs makes one O(m)-array bucket and C(m,2) in-row
        # pairs.  Scale callers pass max_block (the driver query does).
        buckets = (
            pref.groupBy("h")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        cand = (
            _pairs_from_sorted_arrays(buckets, "ids")
            .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
            .distinct()
        )
    return _jaccard_join(cand, arrs.select("id", "arr", "n"), threshold_ppm).select(
        "id_a", "id_b", "jac_ppm"
    )


def ngram_block_stats(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    threshold_ppm: int = 800_000,
    max_block: int = 16,
) -> DataFrame:
    """Overflow report for dedup_ngram's rarest-first prefix buckets — the
    ``lsh_bucket_stats`` twin the round-2 review asked for: when
    ``max_block`` caps a prefix-gram bucket, members are silently dropped
    from candidate generation; this one-row report (n_buckets, n_over_cap,
    max_bucket_size) over the UNCAPPED bucket sizes makes the truncation
    driver-visible.  One partial-agg groupBy on the prefix gram."""
    pref = _ngram_doc_arrays(df, id_col, text_col, threshold_ppm).select(
        "id", F.explode("pref").alias("h")
    )
    sizes = pref.groupBy("h").count()
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("count") > max_block).cast("long")).alias("n_over_cap"),
        F.max("count").alias("max_bucket_size"),
    )


def dedup_embed(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int | None = None,
    threshold_ppm: int = 300_000,
) -> DataFrame:
    """Embedding-cosine near-dup: SRP-LSH bucket blocking + exact-int cosine.

    cosine_ppm = floor(1e6 * dot / sqrt(na*nb)) over 1e6-scaled int vectors —
    exact-int dot/norms, deterministic double sqrt/div in both engines.
    Same-bucket blocking is the scale path (recall < 1 by design; the
    brute-force oracle-matched exact variant is similarity.ann_topk).

    ``n_planes=None`` derives the plane count from the corpus size
    (texthash.auto_planes) so bucket occupancy stays constant as N grows —
    the fixed-2^8-buckets scale flaw from the round-1 review."""
    if n_planes is None:
        n_planes = TH.auto_planes(emb_df.count())
    planes = TH.srp_planes(n_planes, dim)
    base = emb_df.select(
        F.col(id_col).alias("id"), TH.emb_scaled(F.col(vec_col), dim).alias("v")
    ).withColumn("bucket", TH.srp_bucket(F.col("v"), planes))
    base = base.withColumn("norm2", TH.int_dot(F.col("v"), F.col("v")))
    a = base.select(
        F.col("bucket"),
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("norm2").alias("na2"),
    )
    b = base.select(
        F.col("bucket"),
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("norm2").alias("nb2"),
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    out = pairs.withColumn("dot", TH.int_dot(F.col("va"), F.col("vb"))).withColumn(
        "cos_ppm",
        F.floor(
            F.lit(1e6)
            * F.col("dot")
            / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double"))
        ).cast("bigint"),
    )
    return out.filter(F.col("cos_ppm") >= threshold_ppm).select(
        "id_a", "id_b", "cos_ppm"
    )


def dedup_clusters(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster) with
    cluster = min id in the component (the keeper).  Iterative min-label
    propagation: each round joins labels across edges and takes the min;
    converges in component-diameter rounds (dup clusters are shallow —
    replicas of one base doc form near-cliques), capped at ``max_iter``.

    Scale notes: each round is one equi-join on id + one partial-agg
    groupBy — the standard large-scale CC pattern; rounds are driver-
    checked for convergence so typical corpora stop after 2-3."""
    # localCheckpoint (not persist): iterative self-referential plans grow
    # exponentially under AQE when only cached — measured per-round cost
    # doubling; checkpointing truncates the lineage so every round is O(E).
    # On a cluster this would be reliable checkpoint() to durable storage.
    edges = (
        pairs.select("id_a", "id_b")
        .unionByName(
            pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = -1
    for _ in range(max_iter):
        neigh = edges.join(
            labels.withColumnRenamed("id", "id_b"), "id_b"
        ).select(F.col("id_a").alias("id"), "label")
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: label ← min(label, label(label)).  Halving the
        # propagation distance each round makes convergence O(log diameter)
        # instead of O(diameter) — long path components (chained near-dups)
        # no longer hit the iteration cap.
        lab2 = new_labels.select(
            F.col("id").alias("label"), F.col("label").alias("label2")
        )
        new_labels = (
            new_labels.join(lab2, "label", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("label2"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # never return silently-wrong labels (round-1 advice): with pointer
        # jumping this needs diameter > 2^max_iter — a data-model red flag.
        raise RuntimeError(
            f"dedup_clusters did not converge after {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster"))
