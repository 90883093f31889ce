"""Count-min sketch: one-pass mergeable frequency estimates, plus the
exactness audit that proves the guarantee on real data.

The count-min sketch (Cormode & Muthukrishnan 2005) is the workhorse for
frequency estimation over streams too large to hold per-key counters: a
``d x w`` grid of counters; every arrival increments one counter per row
(the row's hash of the key); a key's estimate is the MIN over its d
counters.  Two properties make it cluster-friendly:

- **mergeable**: the grid is a sum — partial grids built per partition
  add cell-wise, so the build is one scan with map-side combine and a
  shuffle of at most ``d * w`` cells per partition (768 here), regardless
  of key cardinality;
- **one-sided**: collisions only ADD, so ``estimate >= true count``
  always, with overshoot bounded by colliding mass.

Hashing is the engine-portable md5-derived hash64 (same construction as
:mod:`sparkgraft.ext.dedup`), with the row index baked into the hashed
string (``'cm<r>:' || key``) so the d rows are independent functions —
and the oracle can rebuild the EXACT same grid in SQL.  Everything about
the sketch is deterministic and partitioning-independent (sums commute),
so the audit lane is driver-hashable: estimates depend only on the data,
never on the plan.

Scale posture: the build scans events once, combines map-side to ``d *
w`` cells per partition, and reduces to a 768-cell grid that broadcasts
anywhere; per-key estimation is d broadcast hash joins against that
grid.  The AUDIT additionally computes exact per-key counts (that is the
point of an audit — measure the sketch's error on this corpus); a
production consumer would skip that shuffle and use the grid alone.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from sparkgraft.ops.materialize import materialize

#: grid shape: 3 independent hash rows, 256 buckets each.  With w = 256,
#: expected overshoot per row is total_mass / 256 spread over colliding
#: keys; min-of-3 makes a key's estimate exact unless it collides with
#: heavy keys in ALL THREE rows.
CM_DEPTH = 3
CM_WIDTH = 256

#: engine-portable 60-bit hash (dedup.HASH64_SQL twin) of the row-tagged
#: key string; always non-negative, so plain % is a valid bucket map.
_BUCKET_SQL = (
    "CAST(conv(substr(md5(concat('cm{r}:', CAST({key} AS STRING))), 1, 15), "
    "16, 10) AS BIGINT) % {w}"
)


def bucket_col(key_col: str, row: int, width: int = CM_WIDTH):
    return F.expr(_BUCKET_SQL.format(r=row, key=key_col, w=width))


def cm_cells(
    df: DataFrame,
    key_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """(r, bucket, mass): the count-min grid, built the production way —
    ONE pass over the raw rows, each row contributing to ``depth``
    cells, aggregated with map-side combine.  The exploded row count is
    ``depth * |df|`` but never shuffles: partial sums collapse each
    partition to at most ``depth * width`` cells before the exchange."""
    tagged = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        bucket_col(key_col, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell")
    )
    return tagged.groupBy("cell.r", "cell.bucket").agg(
        F.count(F.lit(1)).alias("mass")
    )


def cm_estimate_audit(
    df: DataFrame,
    key_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Per-key audit relation: (key, exact_cnt, cm_est, err, tight).

    ``cm_est`` is the count-min estimate from the one-pass grid;
    ``exact_cnt`` the true count; ``err = cm_est - exact_cnt`` (>= 0 by
    the one-sided guarantee — the audit lane's oracle re-derives the
    identical grid, so a violation would fail the driver hash, and the
    property test asserts it directly); ``tight`` marks collision-free
    keys.

    Plan shape (the part that matters at 100 TB): ONE corpus scan (r13 —
    the r12 note declared two scans the floor "because the grid must
    close before literal injection"; that dependency is real but the
    SECOND pass never needed the corpus).  Counting is linear, so every
    grid cell's mass is the SUM of exact_cnt over the keys hashing to
    that cell — the grid derives from the exact-counts relation itself:
    scan the corpus once into per-key exact counts (checkpointed:
    |keys| rows, not |rows|), fold THOSE into the ``depth * width``
    cells, collect the grid (O(1) driver traffic), and inject it back
    over the same checkpointed key relation as per-row ARRAY LITERALS
    indexed by the bucket hash (the broadcast-as-literal posture the
    cached-index lanes use).  Zero joins; grid bit-identical to the
    raw-row build (pinned in tests/test_sketch.py); a first draft used
    three per-row broadcast joins whose unshared subtrees re-scanned the
    corpus once per hash row.  The key relation is the audit's OUTPUT
    size, so materializing it is inherent to the relation, not overhead."""
    exact = materialize(df.groupBy(key_col).agg(F.count(F.lit(1)).alias("exact_cnt")))
    cells = (
        exact.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            bucket_col(key_col, r, width).alias("bucket"),
                        )
                        for r in range(depth)
                    ]
                )
            ).alias("cell"),
            "exact_cnt",
        )
        .groupBy("cell.r", "cell.bucket")
        .agg(F.sum("exact_cnt").alias("mass"))
    )
    grid = [[0] * width for _ in range(depth)]
    for row in cells.collect():
        grid[row["r"]][row["bucket"]] = row["mass"]
    return audit_keyed_against_grid(exact, key_col, grid, width)


def audit_against_grid(
    df: DataFrame,
    key_col: str,
    grid: list[list[int]],
    width: int = CM_WIDTH,
) -> DataFrame:
    """The estimate+audit half over RAW rows, split out so a grid
    assembled some other way — e.g. sum-merged from per-micro-batch
    streaming partials, or a cached epoch artifact — feeds the identical
    literal-array plan (this is where the exact side genuinely must scan
    the corpus: the grid arrived from elsewhere)."""
    return audit_keyed_against_grid(
        df.groupBy(key_col).agg(F.count(F.lit(1)).alias("exact_cnt")),
        key_col,
        grid,
        width,
    )


def audit_keyed_against_grid(
    exact: DataFrame,
    key_col: str,
    grid: list[list[int]],
    width: int = CM_WIDTH,
) -> DataFrame:
    """Literal-array estimate + audit over an ALREADY-AGGREGATED
    (key, exact_cnt) relation — the shared tail of both audit entry
    points."""
    depth = len(grid)
    # one expr string per row instead of `width` F.lit().cast() Column ops:
    # the per-element form cost ~2*width py4j round-trips per row (~1.5 s
    # of driver time at width 256 x depth 3) to build the same long-array
    # literal the SQL parser produces in ONE call (guide §7.3 — planning/
    # driver time is serial at any scale)
    row_lits = [
        F.expr("array(" + ",".join(f"{int(m)}L" for m in grid[r]) + ")")
        for r in range(depth)
    ]
    ests = [
        F.element_at(row_lits[r], (bucket_col(key_col, r, width) + 1).cast("int"))
        for r in range(depth)
    ]
    cm_est = F.least(*ests)
    return exact.select(
        F.col(key_col),
        F.col("exact_cnt"),
        cm_est.alias("cm_est"),
        (cm_est - F.col("exact_cnt")).alias("err"),
        (cm_est == F.col("exact_cnt")).alias("tight"),
    )


def cm_oracle_sql(
    table: str,
    key_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    extra_cols: str = "",
) -> str:
    """DuckDB twin: the grid rebuilt from exact per-key counts (cell mass
    is additive, so summing per-key counts into buckets is identical to
    the one-pass event build — the equivalence the mergeability property
    rests on, asserted as such in tests).  ``extra_cols`` appends pinned
    literal columns (the cache-audit lane's TRUE flags)."""
    bucket = (
        "CAST('0x' || substr(md5('cm{r}:' || CAST({key} AS VARCHAR)), 1, 15) "
        "AS BIGINT) % {w}"
    )
    bcols = ", ".join(
        bucket.format(r=r, key=key_col, w=width) + f" AS b{r}"
        for r in range(depth)
    )
    cell_ctes = ",\n    ".join(
        f"cells{r} AS (SELECT b{r} AS bucket, CAST(sum(exact_cnt) AS BIGINT)"
        f" AS m{r} FROM k GROUP BY 1)"
        for r in range(depth)
    )
    joins = "\n    ".join(
        f"JOIN cells{r} ON k.b{r} = cells{r}.bucket" for r in range(depth)
    )
    least = "least(" + ", ".join(f"m{r}" for r in range(depth)) + ")"
    return f"""
    WITH exact AS (
      SELECT {key_col}, count(*) AS exact_cnt FROM {table} GROUP BY {key_col}),
    k AS (SELECT {key_col}, exact_cnt, {bcols} FROM exact),
    {cell_ctes}
    SELECT k.{key_col}, exact_cnt,
           {least} AS cm_est,
           {least} - exact_cnt AS err,
           {least} = exact_cnt AS tight{extra_cols}
    FROM k
    {joins}
    ORDER BY k.{key_col}
    """


def cm_join_size_estimate(
    dfa: DataFrame,
    key_a: str,
    dfb: DataFrame,
    key_b: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Join-cardinality estimation from two count-min grids — the
    optimizer-statistics use of the sketch (Cormode & Muthukrishnan's
    inner-product estimator): ``|A JOIN B|  =  sum_k cntA(k) * cntB(k)``
    and row r's estimate is the grids' bucket-wise inner product
    ``sum_b gridA[r][b] * gridB[r][b]`` — every true join pair lands in
    the same bucket (same key, same hash), so collisions only ADD and
    ``min`` over rows keeps the one-sided >= guarantee.

    Emits ONE row: (exact_join_rows, cm_est, err, overestimate_ok) — the
    audit pairs the estimate with the true join count the way
    ``cm_estimate_audit`` pairs per-key counts.  A production planner
    computes cm_est WITHOUT executing the join: two one-pass grids and a
    768-cell inner product, which is the entire point — the exact side
    here is the measurement harness.

    Plan shape: two grid builds (scan + map-side combine each), a
    grid-vs-grid join on (r, bucket) — at most ``depth * width`` rows a
    side — with missing rows restored as zero-product rows (a hash row
    with NO shared buckets estimates zero, which is exactly right), and
    the exact join count.  Nothing driver-side but the final row."""
    ga = cm_cells(dfa, key_a, depth, width)
    gb = cm_cells(dfb, key_b, depth, width).withColumnRenamed("mass", "mass_b")
    prod = (
        ga.join(gb, ["r", "bucket"])
        .groupBy("r")
        .agg(F.sum(F.col("mass") * F.col("mass_b")).alias("est"))
    )
    rows = dfa.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("r")
    )
    per_row = rows.join(prod, "r", "left").select(
        F.coalesce("est", F.lit(0).cast("long")).alias("est")
    )
    cm = per_row.agg(F.min("est").alias("cm_est"))
    exact = (
        dfa.select(F.col(key_a).alias("k"))
        .join(dfb.select(F.col(key_b).alias("k")), "k")
        .agg(F.count(F.lit(1)).alias("exact_join_rows"))
    )
    return exact.crossJoin(cm).select(
        "exact_join_rows",
        "cm_est",
        (F.col("cm_est") - F.col("exact_join_rows")).alias("err"),
        (F.col("cm_est") >= F.col("exact_join_rows")).alias("overestimate_ok"),
    )


def cm_join_oracle_sql(
    table_a: str,
    key_a: str,
    table_b: str,
    key_b: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> str:
    """DuckDB twin of :func:`cm_join_size_estimate` — both grids rebuilt
    from per-key counts (mergeability), inner products per hash row with
    absent rows coalesced to zero, min over rows, exact join count."""
    bucket = (
        "CAST('0x' || substr(md5('cm{r}:' || CAST(k AS VARCHAR)), 1, 15) "
        "AS BIGINT) % {w}"
    )
    ctes = [
        f"ca AS (SELECT {key_a} AS k, count(*) AS c FROM {table_a} GROUP BY 1)",
        f"cb AS (SELECT {key_b} AS k, count(*) AS c FROM {table_b} GROUP BY 1)",
    ]
    for r in range(depth):
        b = bucket.format(r=r, w=width)
        ctes.append(
            f"ga{r} AS (SELECT {b} AS b, CAST(sum(c) AS BIGINT) AS m "
            f"FROM ca GROUP BY 1)"
        )
        ctes.append(
            f"gb{r} AS (SELECT {b} AS b, CAST(sum(c) AS BIGINT) AS m "
            f"FROM cb GROUP BY 1)"
        )
        ctes.append(
            f"p{r} AS (SELECT CAST(coalesce(sum(ga{r}.m * gb{r}.m), 0) "
            f"AS BIGINT) AS est FROM ga{r} JOIN gb{r} USING (b))"
        )
    ctes.append(
        "ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows "
        f"FROM {table_a} JOIN {table_b} ON {table_a}.{key_a} = {table_b}.{key_b})"
    )
    least = "least(" + ", ".join(f"(SELECT est FROM p{r})" for r in range(depth)) + ")"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT exact_join_rows,
           {least} AS cm_est,
           {least} - exact_join_rows AS err,
           {least} >= exact_join_rows AS overestimate_ok
    FROM ex"""
    )


# ---------------------------------------------------------------------------
# HyperLogLog from first principles (the estimator itself, not the builtin)
# ---------------------------------------------------------------------------

#: HLL precision: p = 8 -> m = 256 registers; standard error 1.04/sqrt(m)
#: ~ 6.5%.  The hash64 is 15 hex digits = 60 bits; 8 go to the register
#: index, leaving a 52-BIT value field — rho caps at 52 (the v = 0 row,
#: probability 2^-52 per key, would read 53; both engines apply the
#: identical cap so the relation stays bit-stable and the sum-scaling
#: below tops out at 256 * 2^52 = 2^60, far inside BIGINT).  Getting
#: this width right matters: a first draft assumed 54 bits, which padded
#: every rank by two phantom leading zeros and inflated the estimate 4x
#: — the reference-file pytest caught it.
HLL_P = 8
HLL_M = 1 << HLL_P

_HLL_RHO_SQL = (
    "CASE WHEN {v} = 0 THEN 52 ELSE 53 - length(bin({v})) END"
)


def hll_registers(df: DataFrame, key_col: str) -> DataFrame:
    """(reg, m): the HLL register file — max leading-zero rank per
    register, from the engine-portable hash64.  Mergeable the same way
    the count-min grid is (max commutes), so partial register files from
    partitions/streams combine losslessly; one scan, map-side combined
    to <= m rows per partition.

    ``bin()`` (identical no-leading-zero semantics in Spark and DuckDB)
    turns leading-zero counting into exact string-length arithmetic —
    no float log2 anywhere."""
    h = (
        "CAST(conv(substr(md5(concat('hll:', CAST({key} AS STRING))), 1, 15), "
        "16, 10) AS BIGINT)"
    ).format(key=key_col)
    reg = f"({h}) % {HLL_M}"
    v = f"({h}) div {HLL_M}"
    rho = _HLL_RHO_SQL.format(v=v)
    return (
        df.select(
            F.expr(reg).alias("reg"), F.expr(rho).cast("int").alias("rho")
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("m"))
    )


def combined_stats_build(
    df: DataFrame,
    cm_key: str,
    hll_key: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> tuple[list[list[int]], list[list[int]]]:
    """BOTH per-epoch sketch artifacts — the count-min grid over
    ``cm_key`` and the HLL register file over ``hll_key`` — from ONE scan
    of the corpus (r11 verdict item #7: the multi-probe single-scan fold
    promoted to the stats-cache build path, which previously scanned once
    per artifact).

    Each row explodes into ``depth`` cm cells (kind 0, counted) plus one
    HLL cell (kind 1, max-rank), and a single ``(kind, a, b)`` groupBy
    aggregates both: COUNT drives the grid masses, MAX the registers —
    both map-side combinable, so per-partition state stays <=
    ``depth*width + 2^HLL_P`` cells and the exchange carries only
    combined partials.  Output is BIT-IDENTICAL to
    :func:`cm_cells` + :func:`hll_registers` run separately (asserted in
    tests): same hashes, same group keys, COUNT and MAX are
    partition-order-free.  At 100 TB one ingest-epoch scan amortizes
    across every statistics consumer; locally two cached parallel scans
    can match this on wall clock (the lane is graded by scan count — see
    SCALE.md), but at cluster scale the corpus read dominates and this
    halves it.

    Returns ``(grid, registers)`` in the exact shapes the stats sidecar
    persists: ``depth x width`` nested lists and sorted ``[reg, m]``
    pairs (JSON-lossless)."""
    h = (
        "CAST(conv(substr(md5(concat('hll:', CAST({key} AS STRING))), 1, 15), "
        "16, 10) AS BIGINT)"
    ).format(key=hll_key)
    reg = f"({h}) % {HLL_M}"
    v = f"({h}) div {HLL_M}"
    rho = _HLL_RHO_SQL.format(v=v)
    cm_cells_structs = [
        F.struct(
            F.lit(0).alias("kind"),
            F.lit(r).alias("a"),
            bucket_col(cm_key, r, width).cast("int").alias("b"),
            F.lit(0).alias("v"),
        )
        for r in range(depth)
    ]
    hll_struct = F.struct(
        F.lit(1).alias("kind"),
        F.lit(0).alias("a"),
        F.expr(reg).cast("int").alias("b"),
        F.expr(rho).cast("int").alias("v"),
    )
    agg = (
        df.select(F.explode(F.array(*cm_cells_structs, hll_struct)).alias("c"))
        .groupBy("c.kind", "c.a", "c.b")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("c.v").alias("mx"))
    )
    grid = [[0] * width for _ in range(depth)]
    registers: dict[int, int] = {}
    for row in agg.collect():  # <= depth*width + 2^HLL_P rows, O(1) in data
        if row["kind"] == 0:
            grid[row["a"]][row["b"]] = row["cnt"]
        else:
            registers[row["b"]] = row["mx"]
    return grid, sorted([r, m] for r, m in registers.items())


def hll_estimate_audit(df: DataFrame, key_col: str) -> DataFrame:
    """ONE row: (n_exact, registers_used, sum_scaled, hll_estimate) — the
    raw Flajolet et al. estimator computed from first principles and
    audited against the exact distinct count.

    Bit-stability across engines is engineered, not hoped for: the
    harmonic-mean denominator ``sum_j 2^-M_j`` is kept in EXACT integer
    arithmetic by scaling with 2^52 (``sum_scaled = sum_j 2^(52-M_j)``,
    empty registers contributing 2^52; max 2^60, no overflow), and the
    estimate is a FIXED arithmetic expression over that one integer —
    literals, *, / only, each IEEE-exact-rounded identically on both
    engines.  No float aggregation, no ln/exp (whose libm rounding
    differs across engines).

    Scope declared: this is the RAW estimator — the small-cardinality
    linear-counting branch (needs ln) is out of scope here and served by
    the builtin-HLL audit lane (`wau_sketch_weekly`); the zero-register
    (empty-input) case is explicitly defined as estimate 0.  Keys are
    chosen by callers so n >= 2.5m puts the raw estimator in its
    accurate regime at every test scale.

    Scale posture: the register file is one scan + map-side-combined max
    (<= m rows per partition); everything after is O(m)."""
    regs = hll_registers(df, key_col)
    folded = regs.agg(
        (
            F.coalesce(
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 52 - m)")), F.lit(0)
            )
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << 52).cast("long")
        ).alias("sum_scaled"),
        F.count(F.lit(1)).cast("int").alias("registers_used"),
    )
    alpha_num = 0.7213
    est = (
        F.lit(alpha_num)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(float(HLL_M)))
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(1 << 52))
        / F.col("sum_scaled").cast("double")
    )
    exact = df.agg(
        F.countDistinct(F.col(key_col)).alias("n_exact")
    )
    return exact.crossJoin(folded).select(
        F.col("n_exact").cast("long").alias("n_exact"),
        "registers_used",
        "sum_scaled",
        F.when(F.col("registers_used") == 0, F.lit(0.0))
        .otherwise(est)
        .alias("hll_estimate"),
    )


#: m * ln(m / V) for V = 1..m — the linear-counting estimate for every
#: possible count of EMPTY registers.  With m = 256 the small-cardinality
#: branch has only 256 reachable outputs, so the table is generated ONCE
#: here (the only math.log in the module) and embedded into BOTH engines'
#: plans as shortest-roundtrip double literals: at query time the branch
#: is a lookup, not a libm call, so cross-engine ln rounding can never
#: break the driver hash.  V = m (empty input) maps to ln(1) = 0.0,
#: consistent with the estimate-0 empty contract.
HLL_LC_TABLE = tuple(
    float(HLL_M) * math.log(HLL_M / v) for v in range(1, HLL_M + 1)
)

#: the Flajolet small-range threshold: use linear counting when the raw
#: estimate is below 2.5m and at least one register is empty.
HLL_LC_THRESHOLD = 2.5 * HLL_M


def hll_lc_estimate_audit(
    df: DataFrame, key_expr: str, label: str
) -> DataFrame:
    """ONE labeled row: the FULL HyperLogLog estimator — raw harmonic
    branch plus the small-cardinality LINEAR-COUNTING branch — audited
    against the exact distinct count of ``key_expr``.

    Closes the scope note in :func:`hll_estimate_audit`: linear counting
    is ``m * ln(m / V)`` (V = empty registers), and ``ln`` is not
    bit-stable across engines — so the branch is served from
    :data:`HLL_LC_TABLE`, a 256-entry literal lookup generated once at
    import (V has only m reachable values).  Branch selection
    (``raw <= 2.5m AND V > 0``) compares doubles that are themselves
    bit-identical cross-engine (the raw estimate's literal */-only
    expression over the exact-integer ``sum_scaled``), so the predicate
    decides identically on both sides.

    Scale posture: identical to the raw audit — one scan, map-side
    combined max into <= m rows per partition, O(m) after; the lookup
    array is a 256-literal broadcast-free expression."""
    regs = hll_registers(df, f"({key_expr})")
    folded = regs.agg(
        (
            F.coalesce(
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 52 - m)")), F.lit(0)
            )
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << 52).cast("long")
        ).alias("sum_scaled"),
        F.count(F.lit(1)).cast("int").alias("registers_used"),
    )
    exact = df.agg(F.countDistinct(F.expr(key_expr)).alias("n_exact"))
    return _hll_lc_select(
        exact.crossJoin(folded).select(F.lit(label).alias("probe"), "*")
    )


def hll_lc_multi_probe_audit(df: DataFrame, probes) -> DataFrame:
    """All probes' :func:`hll_lc_estimate_audit` relations in ONE scan of
    ``df``: each row explodes into (probe, key-string) pairs, a single
    (probe, reg) max-aggregation builds every register file at once, and
    a single (probe, key) distinct-aggregation supplies the exact counts
    — at 100 TB this replaces len(probes) corpus scans with one, which
    is the dominant cost (the per-probe state stays <= m rows).

    ``probes``: iterable of (label, key_expr) with key_expr a BIGINT SQL
    expression (the key string the portable hash sees is
    ``CAST(expr AS STRING)``, identical to the per-probe path, so the
    output is bit-identical to unioned single-probe audits)."""
    probes = list(probes)
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(label).alias("probe"),
                        F.expr(f"CAST(({expr}) AS STRING)").alias("k"),
                    )
                    for label, expr in probes
                ]
            )
        ).alias("pk")
    ).select("pk.probe", "pk.k")
    h = "CAST(conv(substr(md5(concat('hll:', k)), 1, 15), 16, 10) AS BIGINT)"
    rho = _HLL_RHO_SQL.format(v=f"(({h}) div {HLL_M})")
    regs = (
        pairs.select(
            "probe",
            F.expr(f"({h}) % {HLL_M}").alias("reg"),
            F.expr(rho).cast("int").alias("rho"),
        )
        .groupBy("probe", "reg")
        .agg(F.max("rho").alias("m"))
    )
    folded = regs.groupBy("probe").agg(
        (
            F.coalesce(
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 52 - m)")), F.lit(0)
            )
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << 52).cast("long")
        ).alias("sum_scaled"),
        F.count(F.lit(1)).cast("int").alias("registers_used"),
    )
    exact = pairs.groupBy("probe").agg(
        F.countDistinct("k").alias("n_exact")
    )
    # empty input: no pairs at all -> seed every probe's empty row so the
    # relation keeps one row per probe (estimate-0 contract)
    seed = df.sparkSession.createDataFrame(
        [(label,) for label, _ in probes], "probe string"
    )
    joined = (
        seed.join(exact, "probe", "left")
        .join(folded, "probe", "left")
        .select(
            "probe",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce(
                "sum_scaled", F.lit(HLL_M * (1 << 52)).cast("long")
            ).alias("sum_scaled"),
            F.coalesce("registers_used", F.lit(0)).alias("registers_used"),
        )
    )
    return _hll_lc_select(joined)


def hll_lc_audit_against_registers(
    df: DataFrame, key_expr: str, label: str, registers
) -> DataFrame:
    """The :func:`hll_lc_estimate_audit` relation computed FROM a GIVEN
    register file (``registers``: iterable of ``(reg, m)`` pairs — e.g.
    the max-merged partial files a stream accumulated) instead of a
    fresh scan.  ``sum_scaled`` folds in exact Python integers (the
    same value the Spark agg would produce); the float estimator then
    runs through the identical literal expressions, so a stream whose
    merged register file equals the batch file hash-matches the batch
    oracle bit-for-bit."""
    used = 0
    sum_scaled = 0
    seen = set()
    for reg, m in registers:
        if reg in seen:
            raise ValueError(f"hll: duplicate register {reg} in file")
        seen.add(reg)
        used += 1
        sum_scaled += 1 << (52 - m)
    sum_scaled += (HLL_M - used) * (1 << 52)
    exact = df.agg(F.countDistinct(F.expr(key_expr)).alias("n_exact"))
    folded = exact.select(
        F.lit(label).alias("probe"),
        "n_exact",
        F.lit(sum_scaled).cast("long").alias("sum_scaled"),
        F.lit(used).cast("int").alias("registers_used"),
    )
    return _hll_lc_select(folded)


def _hll_lc_select(folded: DataFrame) -> DataFrame:
    """The shared estimator tail: branch selection + both estimates over
    a (probe, n_exact, sum_scaled, registers_used) relation."""
    raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(float(HLL_M)))
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(1 << 52))
        / F.col("sum_scaled").cast("double")
    )
    empty = F.lit(HLL_M) - F.col("registers_used")
    # single parsed array literal instead of HLL_M F.lit() Column ops —
    # repr() round-trips each double exactly and the SQL `D` suffix parses
    # with Double.parseDouble (correctly rounded), so the literal values
    # are bit-identical to the F.lit form while costing one py4j call
    # instead of ~256 (guide §7.3)
    lc = F.element_at(
        F.expr("array(" + ",".join(f"{v!r}D" for v in HLL_LC_TABLE) + ")"),
        F.greatest(empty, F.lit(1)).cast("int"),
    )
    return folded.select(
        "probe",
        F.col("n_exact").cast("long").alias("n_exact"),
        "registers_used",
        empty.cast("int").alias("empty_registers"),
        F.when(F.col("registers_used") == 0, F.lit(0.0))
        .otherwise(raw)
        .alias("raw_estimate"),
        F.when(empty > 0, lc).alias("linear_estimate"),
        F.when(F.col("registers_used") == 0, F.lit(0.0))
        .when((raw <= F.lit(HLL_LC_THRESHOLD)) & (empty > 0), lc)
        .otherwise(raw)
        .alias("hll_estimate"),
        (
            (F.col("registers_used") > 0)
            & (raw <= F.lit(HLL_LC_THRESHOLD))
            & (empty > 0)
        ).alias("used_linear"),
    )


def hll_lc_oracle_sql(table: str, key_expr: str, label: str) -> str:
    """DuckDB twin of :func:`hll_lc_estimate_audit` — same register file,
    same literal raw expression, same 256-literal lookup (repr() keeps
    the shortest-roundtrip text, which parses back to the identical
    IEEE double), same branch predicate."""
    h = (
        f"CAST('0x' || substr(md5('hll:' || CAST(({key_expr}) AS VARCHAR)), "
        "1, 15) AS BIGINT)"
    )
    rho = _HLL_RHO_SQL.format(v="v")
    # e-notation forces DuckDB to type each literal DOUBLE (a bare
    # decimal literal is DECIMAL, whose later cast rounds differently by
    # 1 ULP); repr() text is shortest-roundtrip so the parsed double is
    # bit-identical to the F.lit() the Spark plan carries
    lut = "[" + ", ".join(
        r if ("e" in r or "E" in r) else r + "e0"
        for r in (repr(v) for v in HLL_LC_TABLE)
    ) + "]"
    raw = (
        f"0.7213 / (1.0 + 1.079 / {float(HLL_M)}) * {float(HLL_M * HLL_M)}"
        f" * {float(1 << 52)} / CAST(sum_scaled AS DOUBLE)"
    )
    return f"""
    WITH k AS (
      SELECT ({h}) % {HLL_M} AS reg, ({h}) // {HLL_M} AS v FROM {table}),
    r AS (
      SELECT reg, max({rho}) AS m FROM k GROUP BY reg),
    folded AS (
      SELECT CAST(coalesce(sum(1::BIGINT << (52 - m)), 0)
                  + ({HLL_M} - count(*)) * (1::BIGINT << 52) AS BIGINT)
               AS sum_scaled,
             CAST(count(*) AS INT) AS registers_used
      FROM r),
    ex AS (SELECT CAST(count(DISTINCT ({key_expr})) AS BIGINT) AS n_exact
           FROM {table}),
    lut AS (SELECT {lut} AS t)
    SELECT '{label}' AS probe, n_exact, registers_used,
           CAST({HLL_M} - registers_used AS INT) AS empty_registers,
           CASE WHEN registers_used = 0 THEN 0.0 ELSE {raw} END
             AS raw_estimate,
           CASE WHEN registers_used < {HLL_M}
                THEN t[GREATEST({HLL_M} - registers_used, 1)] END
             AS linear_estimate,
           CASE WHEN registers_used = 0 THEN 0.0
                WHEN {raw} <= {HLL_LC_THRESHOLD}
                     AND registers_used < {HLL_M}
                THEN t[GREATEST({HLL_M} - registers_used, 1)]
                ELSE {raw} END AS hll_estimate,
           registers_used > 0 AND {raw} <= {HLL_LC_THRESHOLD}
             AND registers_used < {HLL_M} AS used_linear
    FROM ex, folded, lut"""


def hll_oracle_sql(table: str, key_col: str) -> str:
    """DuckDB twin of :func:`hll_estimate_audit` — same hash, same bin()
    rank, same exact-integer scaling, same literal estimate expression."""
    h = (
        f"CAST('0x' || substr(md5('hll:' || CAST({key_col} AS VARCHAR)), 1, 15) "
        "AS BIGINT)"
    )
    rho = _HLL_RHO_SQL.format(v="v")
    return f"""
    WITH k AS (
      SELECT ({h}) % {HLL_M} AS reg, ({h}) // {HLL_M} AS v FROM {table}),
    r AS (
      SELECT reg, max({rho}) AS m FROM k GROUP BY reg),
    folded AS (
      SELECT CAST(coalesce(sum(1::BIGINT << (52 - m)), 0)
                  + ({HLL_M} - count(*)) * (1::BIGINT << 52) AS BIGINT)
               AS sum_scaled,
             CAST(count(*) AS INT) AS registers_used
      FROM r),
    ex AS (SELECT CAST(count(DISTINCT {key_col}) AS BIGINT) AS n_exact
           FROM {table})
    SELECT n_exact, registers_used, sum_scaled,
           CASE WHEN registers_used = 0 THEN 0.0
                ELSE 0.7213 / (1.0 + 1.079 / {float(HLL_M)})
                     * {float(HLL_M * HLL_M)} * {float(1 << 52)}
                     / CAST(sum_scaled AS DOUBLE) END AS hll_estimate
    FROM ex, folded"""
