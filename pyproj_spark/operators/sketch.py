"""Deterministic HyperLogLog distinct-count sketch.

THE 100-TB cardinality tool: a count(DISTINCT x) over a petabyte
corpus shuffles every distinct value; an HLL shuffles m=2^p small
integers per group, and register vectors MERGE with element-wise max —
associative and commutative, so partial aggregation, multi-level
combines, and cross-day sketch unions are all free (Flajolet et al.,
"HyperLogLog: the analysis of a near-optimal cardinality estimation
algorithm", AofA 2007 — public).

Spark ships approx_count_distinct, but its internal hash makes the
result engine-private. This implementation is DETERMINISTIC end to
end — md5-derived 60-bit hash, bit-length register rank (string
length of bin(w): exact integer logic, no floating log2), and an
EXACT INTEGER harmonic sum (each register contributes the long
2^(52-M), so the sum is associative and replayable) — which is what
lets a DuckDB oracle reproduce the estimate bit-for-bit, and makes
sketches comparable across engines and runs.

Registers: idx = top p bits of the 60-bit hash, w = low (60-p) bits,
rho(w) = leading zeros of w within (60-p) bits + 1 = (60-p+1) -
bitlength(w). Estimate: alpha_m * m^2 / sum(2^-M_j), scaled by 2^W
(W = 60 - p) so the harmonic sum is the exact long
sum(2^(W+1-M_j))·2^(... ) — concretely each register adds
1 << (W + 1 - M) with empty registers adding 1 << (W + 1), and the
constant C = alpha_m * m^2 * 2^(W+1) divides that sum. Small-range
linear counting below 2.5m with zero registers present. (No 32-bit
large-range correction: the hash space is 60-bit, where collision
bias is negligible until ~2^30 distinct.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

P = 9               # 2^9 = 512 registers -> ~4.6% standard error
M = 1 << P
W = 60 - P          # rank bits of the 60-bit (15 hex chars) md5 hash
ALPHA = 0.7213 / (1 + 1.079 / M)
#: numerator of the raw estimate, one exact double literal shared by
#: Spark, DuckDB and Python: alpha_m * m^2 * 2^(W+1)
C_NUM = ALPHA * M * M * float(1 << (W + 1))
LC_THRESH = 2.5 * M


def hll_registers(df: DataFrame, group_col: str, value_col: str
                  ) -> DataFrame:
    """Per-group register table (group, idx, mx) — THE mergeable
    sketch state: registers of a union of row sets = element-wise max
    of their register tables (one groupBy(group, idx).max), so
    cross-snapshot / cross-day distinct estimation never touches raw
    values again."""
    h = F.md5(F.col(value_col).cast("string"))
    v = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    idx = F.shiftright(v, W)
    w = v.bitwiseAND(F.lit((1 << W) - 1))
    rho = (F.when(w == 0, F.lit(W + 1))
           .otherwise(F.lit(W + 1) - F.length(F.bin(w))))
    return (df.select(F.col(group_col), idx.alias("idx"),
                      rho.alias("rho"))
            .groupBy(group_col, "idx")
            .agg(F.max("rho").alias("mx")))


def hll_estimate(regs: DataFrame, group_col,
                 round_to: int = 4) -> DataFrame:
    """(group, hll_est, zeros) from a register table (exact integer
    harmonic sum + linear-counting branch). ``group_col`` may be one
    column name or a list (composite keys, e.g. a (z, tx, ty) tile
    pyramid level)."""
    gcols = [group_col] if isinstance(group_col, str) else list(group_col)
    g = (regs.groupBy(*gcols)
         .agg(F.sum(F.expr(f"shiftleft(1L, {W + 1} - mx)")).alias("sp"),
              F.count(F.lit(1)).alias("npres")))
    zeros = F.lit(M) - F.col("npres")
    s = F.col("sp") + zeros * F.lit(1 << (W + 1))
    raw = F.lit(C_NUM) / s
    est = F.when((raw <= F.lit(LC_THRESH)) & (zeros > 0),
                 F.lit(float(M)) * F.log(F.lit(float(M)) / zeros)) \
        .otherwise(raw)
    return g.select(*[F.col(c) for c in gcols],
                    F.round(est, round_to).alias("hll_est"),
                    zeros.cast("long").alias("zeros"))


def hll_distinct(df: DataFrame, group_col: str, value_col: str,
                 round_to: int = 4) -> DataFrame:
    """Per-group HLL distinct estimate of ``value_col``.

    Returns (group_col, hll_est, zeros) — zeros = empty registers
    (exposed because the linear-counting branch depends on it).
    Plan: narrow hash/register projection (no distinct, no wide
    shuffle of values) -> groupBy(group, idx).max(rho) (partial-agg,
    at most m rows per group survive the map side) -> per-group exact
    integer harmonic sum -> closed-form estimate.
    """
    return hll_estimate(hll_registers(df, group_col, value_col),
                        group_col, round_to)


def hll_sql(table_expr: str, group_col: str, value_col: str,
            round_to: int = 4) -> str:
    """DuckDB oracle computing the identical registers and estimate."""
    v = (f"CAST(('0x' || substr(md5(CAST({value_col} AS VARCHAR)), "
         f"1, 15)) AS BIGINT)")
    w = f"({v} & {(1 << W) - 1})"
    rho = (f"(CASE WHEN {w} = 0 THEN {W + 1} "
           f"ELSE {W + 1} - length(bin({w})) END)")
    return f"""
WITH regs AS (
  SELECT {group_col}, ({v} >> {W}) AS idx, max({rho}) AS mx
  FROM {table_expr} GROUP BY 1, 2
),
g AS (
  SELECT {group_col},
         sum(1::BIGINT << ({W + 1} - mx)) AS sp,
         count(*) AS npres
  FROM regs GROUP BY 1
)
SELECT {group_col},
       round(CASE WHEN {C_NUM!r} / (sp + ({M} - npres)
                       * (1::BIGINT << {W + 1})) <= {LC_THRESH!r}
                   AND {M} - npres > 0
             THEN {float(M)!r} * ln({float(M)!r} / ({M} - npres))
             ELSE {C_NUM!r} / (sp + ({M} - npres)
                               * (1::BIGINT << {W + 1}))
             END, {round_to}) AS hll_est,
       CAST({M} - npres AS BIGINT) AS zeros
FROM g
"""


# --------------------------------------------------------------- CM

CM_D = 4        # hash rows
CM_W = 512      # counters per row


def cm_build(df: DataFrame, value_col: str,
             d: int = CM_D, w: int = CM_W) -> DataFrame:
    """Count-Min sketch build (Cormode & Muthukrishnan 2005, public):
    d*w bounded counters estimating any item's frequency with
    one-sided error <= e*N/w at confidence 1-e^-d. The build is ONE
    partial-aggregated groupBy over (row, col) — d*w cells total
    regardless of corpus size, the bounded-memory answer to "count
    every token at 100 TB". Hashes are md5-salted per row, so the
    sketch is engine-reproducible.

    Returns (r, c, cnt)."""
    rows = df.select(
        F.col(value_col).cast("string").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("r"))
    col = F.pmod(F.conv(F.substring(
        F.md5(F.concat(F.col("r").cast("string"), F.lit(":"),
                       F.col("v"))), 1, 15), 16, 10).cast("long"),
        F.lit(w))
    return (rows.select("r", col.alias("c"))
            .groupBy("r", "c").agg(F.count(F.lit(1)).alias("cnt")))


def cm_topk(df: DataFrame, value_col: str, k: int = 10,
            d: int = CM_D, w: int = CM_W) -> DataFrame:
    """Heavy hitters by Count-Min estimate: probe each distinct item
    (vocabulary-scale, not corpus-scale) against the broadcast sketch
    and rank by the min-over-rows counter. Returns
    (value, est, rank) with (est desc, value) tie-break."""
    from pyspark.sql import Window
    sketch = cm_build(df, value_col, d, w)
    vocab = (df.select(F.col(value_col).cast("string").alias("v"))
             .distinct()
             .select("v", F.explode(F.sequence(
                 F.lit(0), F.lit(d - 1))).alias("r")))
    col = F.pmod(F.conv(F.substring(
        F.md5(F.concat(F.col("r").cast("string"), F.lit(":"),
                       F.col("v"))), 1, 15), 16, 10).cast("long"),
        F.lit(w))
    probed = (vocab.select("v", "r", col.alias("c"))
              .join(F.broadcast(sketch), ["r", "c"])
              .groupBy("v").agg(F.min("cnt").alias("est")))
    # distributed TakeOrdered cuts the vocabulary to k rows BEFORE the
    # global rank window, so the single-partition window sees k rows
    topk = probed.orderBy(F.col("est").desc(), F.col("v")).limit(k)
    rw = Window.orderBy(F.col("est").desc(), F.col("v"))
    return (topk.withColumn("rank", F.row_number().over(rw))
            .select("rank", F.col("v").alias("value"), "est"))


def cm_sql(table_expr: str, value_expr: str, k: int = 10,
           d: int = CM_D, w: int = CM_W) -> str:
    """DuckDB oracle replaying the identical sketch + probe."""
    def col(vexpr):
        return (f"(CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' "
                f"|| {vexpr}), 1, 15)) AS BIGINT) % {w})")
    return f"""
WITH vals AS (
  SELECT CAST({value_expr} AS VARCHAR) AS v FROM {table_expr}
),
rows AS (SELECT v, r FROM vals CROSS JOIN range({d}) AS t(r)),
sketch AS (
  SELECT r, {col('v')} AS c, count(*) AS cnt FROM rows GROUP BY 1, 2
),
vocab AS (
  SELECT DISTINCT v FROM vals
),
probe AS (
  SELECT v, r, {col('v')} AS c FROM vocab CROSS JOIN range({d}) AS t(r)
),
est AS (
  SELECT v, min(cnt) AS est
  FROM probe JOIN sketch USING (r, c) GROUP BY 1
)
SELECT rank, value, est FROM (
  SELECT v AS value, est,
         row_number() OVER (ORDER BY est DESC, v) AS rank
  FROM est) WHERE rank <= {k}
"""


# ------------------------------------------------------------ Bloom

BLOOM_K = 3
BLOOM_M = 4096


def bloom_probe(ref: DataFrame, probe: DataFrame, value_col: str,
                k: int = BLOOM_K, m: int = BLOOM_M,
                out_col: str = "bloom_hit") -> DataFrame:
    """Bloom-filter membership (Bloom 1970, public) expressed
    Spark-first: the bit array IS a distinct (position) table built
    from the reference set, and "all k bits set" IS a semi-join
    counting k position matches — identical semantics (including the
    false-positive behavior) to a bitmap probe, but shuffle-bounded by
    |ref|*k positions which then BROADCAST. Use it where membership
    itself is the output; to prune a join, leave the join plain: the
    planner's broadcast join and runtime bloom filter do that without
    a build-time collect.

    Adds ``out_col`` (boolean) to ``probe``.

    r6 shape (guide §3.2, the manual broadcast-Bloom): the reference
    side's distinct bit positions are BOUNDED BY THE CONSTANT ``m``
    regardless of |ref|, so they collect driver-side (one small job)
    and the filter ships to the probe side as an m-entry literal
    bit array. The probe test is then k native md5s + k constant
    array lookups PER ROW — no probe-side distinct, no position
    join, no per-value aggregation, zero probe-side shuffles (the
    previous shape shuffled the probe's distinct values twice). Same
    hash family, same positions, same false-positive set — the
    output column is value-identical. At production m (tens of MB)
    the same bitmap ships as a broadcast variable instead of a
    parsed literal; the m = 4096 module default parses in ~ms."""
    def positions(df, col_name):
        return df.select(
            F.col(col_name).cast("string").alias("v"),
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")
        ).select("v", "j", F.pmod(F.conv(F.substring(
            F.md5(F.concat(F.col("j").cast("string"), F.lit("|"),
                           F.col("v"))), 1, 15), 16, 10).cast("long"),
            F.lit(m)).alias("pos"))

    bit = [0] * m
    ref = ref.filter(F.col(value_col).isNotNull())
    for r in positions(ref, value_col).select("pos") \
            .distinct().collect():  # <= m rows, m is a constant
        bit[r.pos] = 1
    bm = F.expr("array(" + ",".join(map(str, bit)) + ")")
    pos_arr = F.array(*[
        F.pmod(F.conv(F.substring(
            F.md5(F.concat(F.lit(str(j)), F.lit("|"),
                           F.col(value_col).cast("string"))),
            1, 15), 16, 10).cast("long"), F.lit(m))
        for j in range(k)])
    hit = F.forall(pos_arr,
                   lambda p: F.element_at(bm, p.cast("int") + 1) == 1)
    # NULL is never a member; `coalesce(hit, False)` would say the
    # same but hits a codegen NPE in Spark 4.1 on a NULL probe value
    return probe.withColumn(out_col, F.col(value_col).isNotNull() & hit)


def bloom_sql_positions(j_expr: str, value_expr: str,
                        m: int = BLOOM_M) -> str:
    """The shared position hash as a DuckDB SQL fragment."""
    return (f"(CAST(('0x' || substr(md5(CAST({j_expr} AS VARCHAR) || "
            f"'|' || {value_expr}), 1, 15)) AS BIGINT) % {m})")


# --------------------------------------------------- bottom-k sample

BK_K = 1024


def bottomk_quantiles(df: DataFrame, value_col: str, id_col: str,
                      qs: tuple = (0.5, 0.9, 0.99), k: int = BK_K,
                      salt: str = "bk") -> DataFrame:
    """Mergeable quantile sketch via bottom-k hash sampling (Cohen &
    Kaplan, "Summarizing data using bottom-k sketches", PODC 2007 —
    public): the k rows with the SMALLEST md5(salt:id) keys are a
    uniform-without-replacement sample, and bottom-k of a union is
    bottom-k of the merged per-partition bottom-ks — so the sketch
    merges like HLL registers do, and Spark's distributed TakeOrdered
    (orderBy + limit) IS that merge. Quantile estimate = the
    value-sorted sample element at floor(q*(n-1)) (exact integer
    index, engine-independent). Rank error is O(1/sqrt(k)) — the
    bounded-memory answer to percentiles over a corpus, and unlike
    Spark's approx_percentile the sample is deterministic and
    engine-reproducible.

    Returns one row per q: (q, est, n_sample)."""
    key = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit(salt),
                          F.col(id_col).cast("string"))),
        1, 15), 16, 10).cast("long")
    samp = (df.select(F.col(value_col).alias("_v"),
                      key.alias("_key"))
            .orderBy("_key").limit(k))
    agg = samp.agg(F.array_sort(F.collect_list("_v")).alias("vs"),
                   F.count(F.lit(1)).alias("n"))
    rows = None
    for q in qs:
        idx = (F.floor(F.lit(float(q)) * (F.col("n") - 1)) + 1) \
            .cast("int")
        r = agg.select(F.lit(float(q)).alias("q"),
                       F.element_at("vs", idx).alias("est"),
                       F.col("n").alias("n_sample"))
        rows = r if rows is None else rows.unionByName(r)
    return rows


def bottomk_sql(table_expr: str, value_expr: str, id_expr: str,
                qs: tuple = (0.5, 0.9, 0.99), k: int = BK_K,
                salt: str = "bk") -> str:
    """DuckDB oracle replaying the identical sample and index rule."""
    key = (f"CAST(('0x' || substr(md5('{salt}:' || "
           f"CAST({id_expr} AS VARCHAR)), 1, 15)) AS BIGINT)")
    sel = " UNION ALL ".join(
        f"SELECT {float(q)!r} AS q, "
        f"vs[CAST(floor({float(q)!r} * (n - 1)) AS INT) + 1] AS est, "
        f"n AS n_sample FROM agg" for q in qs)
    return f"""
WITH samp AS (
  SELECT {value_expr} AS v, {key} AS kk
  FROM {table_expr} ORDER BY kk LIMIT {k}
),
agg AS (
  SELECT list_sort(list(v)) AS vs, count(*) AS n FROM samp
)
{sel}
"""
