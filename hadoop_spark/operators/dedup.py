"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection.

No reference analogue (apache/hadoop has no dedup library; the closest is
MD5-based record filtering in
`hadoop-mapreduce-client-core/.../lib/input/SequenceFileInputFilter.java:203`)
— these are the LLM-pipeline extensions (SURVEY §7 M9), built Spark-first:

- Everything is JVM-side higher-order functions (`transform`/`filter`/
  `aggregate` over arrays) — whole-stage codegen, zero Python in the hot
  path, no UDFs.
- All hashes go through :func:`~hadoop_spark.functions.hashing.portable_hash64`
  (md5-derived 60-bit ints) so the same pipeline is expressible in the DuckDB
  oracle and results are engine-independent.
- Scale shape: signatures/fingerprints are map-side; the only shuffles are
  (a) the LSH band-bucket self-join (keyed on band hash — uniform by
  construction since the key IS a hash) and (b) the candidate-pair groupBy.
  Nothing collects to the driver; candidate verification joins carry only
  (id, shingle-set) — at 100 TB, band-bucket joins touch O(n·bands) rows,
  never O(n²).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_spark.functions.hashing import portable_hash64, portable_hash64_sql
from hadoop_spark.operators.graph import loop_width

# LSH defaults: 12 minhashes in 4 bands × 3 rows → P(candidate | j=0.8) ≈ 0.94,
# P(candidate | j=0.99) ≈ 1. Verification removes false positives exactly.
NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = 3

# connected_components: max edges for the driver-side label-propagation
# fast path (~16 MB of int64 pairs collected — bounded by this cap, never
# by the corpus; above it the distributed join loop runs unchanged).
_CC_DRIVER_MAX_EDGES = 1_000_000

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8-bit bands; hamming ≤ SIMHASH_BANDS-1 ⇒ ≥1 band equal


# ---------------------------------------------------------------- shingling

def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped.

    Implemented as trim-then-split (not a higher-order `filter`): after
    trimming, a `\\s+` split can produce no empty tokens, and the generated
    code for plain split is tiny. HOF lambdas here measurably explode
    Janino compile time once this expression gets inlined into shingling."""
    trimmed = F.trim(F.lower(text))
    return F.when(trimmed != "", F.split(trimmed, r"\s+")).otherwise(
        F.array().cast("array<string>")
    )


def tokens_sql(expr: str) -> str:
    return f"list_filter(string_split_regex(lower({expr}), '\\s+'), w -> w <> '')"


def trigram_shingles(toks: Column) -> Column:
    """Distinct word-trigram shingles via zip_with over shifted slices —
    NOT `transform(sequence(...), element_at ...)`: that shape inlines the
    token expression once per element_at and its generated code blows Janino
    compile time up ~25× (measured). zip_with keeps one reference per shift.

    `zip_with` pads the shorter side with NULLs, so the tail entries (which
    concat to NULL) are cut by the final slice to n-2 trigrams; n < 3 slices
    to an empty array."""
    big = 1 << 30
    pairs = F.zip_with(toks, F.slice(toks, 2, big), lambda a, b: F.concat(a, F.lit(" "), b))
    triples = F.zip_with(pairs, F.slice(toks, 3, big), lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(
        F.slice(triples, 1, F.greatest(F.size(toks) - 2, F.lit(0)))
    )


def trigram_shingles_sql(toks: str) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - 1, 1)), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))"
    )


# ----------------------------------------------------------------- minhash

# Universal-hash family for MinHash: h_i(x) = (a_i·x + b_i) mod P over a
# 31-bit prime field. One md5 per shingle (shingle_hashes), then num_hashes
# integer mixes — vs one md5 per (shingle, salt), a num_hashes× cut in the
# dominant map-side cost. 31-bit operands keep a·x + b < 2^62: no BIGINT
# overflow in either engine (Spark ANSI mode would throw on wraparound).
MINHASH_P = 2_147_483_647  # 2^31 - 1, prime


def _mix_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, identical constants in the oracle."""
    out = []
    for i in range(num_hashes):
        a = (2_654_435_761 * (i + 1)) % MINHASH_P or 1
        b = (1_779_033_703 * (i + 1) + 7) % MINHASH_P
        out.append((a, b))
    return out


def shingle_hashes(shingles: Column) -> Column:
    """Shingle set → 31-bit base hashes (one md5 per shingle). Materialize
    this as its own column (projection / persist boundary) so the md5 pass
    runs once, not once per minhash permutation."""
    return F.transform(shingles, lambda s: portable_hash64(s) % MINHASH_P)


def shingle_hashes_sql(shingles: str) -> str:
    return f"list_transform({shingles}, s -> {portable_hash64_sql('s')} % {MINHASH_P})"


def minhash_signature(hashed: Column, num_hashes: int = NUM_HASHES) -> Column:
    """MinHash signature over pre-hashed shingles (see shingle_hashes):
    per permutation i, min over elements of (a_i·h + b_i) mod P — pure
    integer arithmetic, whole-stage codegen, exactly mirrored in DuckDB."""
    # One nested HOF (transform over a literal param array), NOT num_hashes
    # separate array_min expressions: codegen size stays O(1) in num_hashes,
    # which keeps per-stage Janino compile time flat. NB: single-argument
    # lambdas only — a 2-arg lambda would receive the element index.
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _mix_params(num_hashes)
        ]
    )
    return F.transform(
        params,
        lambda ab: F.array_min(
            F.transform(hashed, lambda h: (ab["a"] * h + ab["b"]) % MINHASH_P)
        ),
    )


def minhash_signature_sql(hashed: str, num_hashes: int = NUM_HASHES) -> str:
    mins = ", ".join(
        f"list_min(list_transform({hashed}, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in _mix_params(num_hashes)
    )
    return f"[{mins}]"


def lsh_band_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Candidate pairs from LSH banding: explode each signature into
    ``bands`` (band_idx, band_hash) keys, self-join per band key, distinct
    the surviving id pairs (id_a < id_b).

    Scale: the join key is (band, hash-of-rows) — uniformly distributed, so
    no skew; join fan-out is bucket-local. O(n·bands) join input vs O(n²)
    brute force."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                portable_hash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(F.col(sig_col), b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    keyed = (
        sigs.select(F.col(id_col), F.explode(band_structs).alias("bk"))
        .select(id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    )
    left = keyed.alias("a")
    right = keyed.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over distinct-element arrays. Small-int division —
    IEEE-exact and engine-independent."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    return inter.cast("double") / (F.size(sh_a) + F.size(sh_b) - inter).cast("double")


def jaccard_sql(a: str, b: str) -> str:
    inter = f"len(list_intersect({a}, {b}))"
    return (
        f"(CAST({inter} AS DOUBLE) / CAST(len({a}) + len({b}) - {inter} AS DOUBLE))"
    )


# ----------------------------------------------------------------- simhash

def token_hashes(toks: Column) -> Column:
    """Per-token 60-bit hashes. Materialize this in its OWN projection
    before calling :func:`simhash32` — the simhash expression references it
    32× and Catalyst's CollapseProject keeps non-cheap multiply-referenced
    expressions in a separate project, so the md5s run once per row."""
    return F.transform(toks, lambda t: portable_hash64(t))


def simhash32(hashes: Column) -> Column:
    """32-bit SimHash over precomputed token hashes (:func:`token_hashes`):
    bit b is set iff more than half the token hashes have bit b set.

    Single nested fold (aggregate → zip_with over a 32-entry power-of-two
    literal array) rather than 32 separate filter+size expressions — same
    result, ~O(1) generated-code size (32 filters measurably stall Janino).
    All JVM-side, zero shuffle."""
    n = F.size(hashes)
    pows = F.array(*[F.lit(1 << b).cast("bigint") for b in range(SIMHASH_BITS)])
    zeros = F.array_repeat(F.lit(0).cast("bigint"), SIMHASH_BITS)
    counts = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc, pows, lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(0)
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts, pows, lambda c, p: F.when(c * 2 > n, p).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def simhash32_sql(toks: str) -> str:
    hashes = f"list_transform({toks}, t -> {portable_hash64_sql('t')})"
    n = f"len({toks})"
    bits = " + ".join(
        f"(CASE WHEN len(list_filter({hashes}, h -> (h & {1 << b}) <> 0)) * 2 > {n} "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"({bits})"


def simhash_pairs(df: DataFrame, id_col: str, sim_col: str, max_hamming: int) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, via byte-band blocking:
    split the 32-bit hash into 4 bytes; hamming ≤ 3 guarantees at least one
    equal byte (pigeonhole), so the self-join runs per (band, byte) bucket —
    O(n·4) keys, never O(n²). Exact hamming verified with bit_count(xor)."""
    assert max_hamming < SIMHASH_BANDS, "blocking guarantee needs hamming < #bands"
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(sim_col), 8 * b).bitwiseAND(F.lit(255)).alias("byte"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    keyed = df.select(
        F.col(id_col), F.col(sim_col), F.explode(band_structs).alias("bk")
    ).select(id_col, sim_col, F.col("bk.band").alias("band"), F.col("bk.byte").alias("byte"))
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{sim_col}").bitwiseXOR(F.col(f"b.{sim_col}"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components over the near-dup
    pair graph by iterative min-label propagation. Returns (node, comp)
    where comp = the smallest node id reachable — the canonical document
    every member of a duplicate cluster dedups to.

    The reference has no iterative operator at all (multi-pass = chained
    MR jobs with DFS round-trips, `lib/jobcontrol/JobControl.java:57`);
    here each round is one join + partial-aggregated min, and the loop
    stops at the fixpoint (sum of labels is strictly decreasing until
    convergence, so one scalar per round decides termination — the only
    driver-side value in the loop).

    Scale notes: label propagation converges in O(graph diameter) rounds —
    near-dup clusters are shallow (diameter ≤ ~6) so this is a handful of
    shuffles on uniformly-hashed ids. The loop's shuffle width is pinned to
    ~1 M edges/partition (clamped to the session's configured width), so a
    60 k-edge graph under a vanilla 200-partition session runs 2-wide
    rounds instead of 200-wide ones, while a billion-edge graph still gets
    the full cluster. Lineage is truncated with an eager localCheckpoint
    every few rounds so the plan doesn't grow linearly with iterations
    (the Spark analogue of the reference writing intermediate results to
    DFS between chained jobs, minus the I/O)."""
    spark = pairs.sparkSession
    # Materialize the pair plan ONCE (it can be an expensive LSH pipeline)
    # and truncate its lineage, so the union/distinct below doesn't re-run
    # it twice and loop stages never re-enter it.
    sel = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    _int_types = (ByteType, ShortType, IntegerType, LongType)
    integral_ids = all(isinstance(f.dataType, _int_types) for f in sel.schema.fields)
    if integral_ids:
        # Widen integral ids to bigint ONCE, before either path: the driver
        # fast path emits bigint labels by construction, so the distributed
        # loop must too — otherwise an int32 input would get a
        # size-dependent output schema (ADVICE r10).
        sel = sel.select(F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"))
    pairs_m = sel.localCheckpoint(eager=True)
    n_edges = 2 * pairs_m.count()
    # r10 opt (guide §1.2 step 1 — the distributed algorithm): below a
    # bounded edge count, run min-label propagation ON THE DRIVER over the
    # Arrow-collected edge list instead of the iterative join loop. The
    # loop's cost at small sizes is pure per-round overhead (2+ blocking
    # jobs x O(diameter) rounds ~= 5-7 s for a 920-edge graph at sf0.1);
    # the driver pass is milliseconds and bit-identical (same fixpoint:
    # comp = min reachable id). This is the bcast_if_small degrade
    # discipline applied to iteration state: the collect is bounded by the
    # cap (~16 MB of int64 pairs), NEVER by the corpus — a 100 TB corpus
    # whose near-dup graph exceeds the cap takes the distributed loop
    # below, unchanged. Guarded to integral id types; anything else falls
    # through. (tests/test_dedup_components_paths.py pins both paths to
    # identical output.) NULL ids (NaN after toPandas) would silently cast
    # to garbage int64 labels, so a frame that turns out to contain them
    # falls through to the distributed loop (ADVICE r10) — the collect is
    # already bounded by the cap, so the extra pass costs nothing.
    if n_edges // 2 < _CC_DRIVER_MAX_EDGES and integral_ids:
        import numpy as np

        pdf = pairs_m.toPandas()
        if not (pdf["a"].isna().any() or pdf["b"].isna().any()):
            a = pdf["a"].to_numpy(dtype="int64")
            b = pdf["b"].to_numpy(dtype="int64")
            ids = np.unique(np.concatenate([a, b]))
            if len(ids) == 0:
                return spark.createDataFrame([], "node bigint, comp bigint")
            ai = np.searchsorted(ids, a)
            bi = np.searchsorted(ids, b)
            comp_v = np.arange(len(ids), dtype="int64")  # index == rank of id
            while True:
                prev = comp_v.copy()
                # propagate the min label across each edge, both directions,
                # then pointer-jump (comp[comp]) to collapse chains fast
                np.minimum.at(comp_v, bi, prev[ai])
                np.minimum.at(comp_v, ai, comp_v[bi])
                comp_v = comp_v[comp_v]
                if np.array_equal(comp_v, prev):
                    break
            import pandas as pd

            out = pd.DataFrame({"node": ids, "comp": ids[comp_v]})
            return spark.createDataFrame(out, "node bigint, comp bigint")
    # Pin BEFORE building edges: the edge cache and every loop stage inherit
    # the loop width. A 60 k-edge graph under a vanilla 200-partition session
    # would otherwise cache 200 partitions and launch 200-task stages every
    # round — pure scheduler overhead.
    with loop_width(spark, n_edges):
        edges = pairs_m.union(
            pairs_m.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
        edges = edges.persist()
        edges.count()
        comp = (
            edges.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
        )
        prev_sum = None
        for i in range(max_iter):
            nbr = (
                edges.join(comp, edges.a == comp.node)
                .groupBy("b")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            comp = (
                comp.join(nbr, comp.node == nbr.b, "left")
                .select(
                    "node",
                    F.least(
                        F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                    ).alias("comp"),
                )
            )
            # Convergence check every OTHER round (labels are monotonically
            # non-increasing, so a stale check only delays detection by one
            # round). The eager localCheckpoint right before the check makes
            # each driver job execute exactly the NEW rounds since the last
            # one — lineage never exceeds two propagation steps, and the
            # convergence aggregate reads the checkpointed result for free.
            if i % 2 == 0 and i + 1 < max_iter:
                continue
            comp = comp.localCheckpoint(eager=True)
            s = comp.agg(F.sum("comp")).collect()[0][0]
            if s == prev_sum:
                break
            prev_sum = s
        comp = comp.localCheckpoint(eager=True)
    edges.unpersist()
    return comp
