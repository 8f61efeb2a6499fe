"""Round-6 batch 2 (X356-X361): Wilcoxon signed-rank, Hodges-Lehmann
pseudomedian, Monte-Carlo relabeling test, grouped jackknife, Newman
modularity, and the exact 2-hop neighborhood census.

Shared discipline:
- Rank statistics use the doubled-midrank census (2*below + ties + 1
  stays integer — the q_friedman spelling) over DISTINCT values via
  ordered_cumsum, never a global window.
- Every inequality between rationals is cross-multiplied into DECIMAL
  (the X75 exact-comparison discipline); DIV only on nonnegative
  operands unless both engines' truncate-toward-zero convention is
  explicitly acceptable (q_modularity's signed numerator — documented).
- Resampling (permutation test) is md5-deterministic: Bernoulli
  relabeling with p = n_A/n via modular comparison, all B draws as
  conditional aggregates in ONE scan (the q_bootstrap_ci shape — the
  relabeled copies never exist as rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from laser_hadoop_spark.operators.cumulative import ordered_cumsum
from laser_hadoop_spark.queries.round6a import _GRAPH_SQL, _hash_graph, _md5i, _md5i_sql
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import spread_scan, table

# --- X356: Wilcoxon signed-rank test -------------------------------------------

_WX_Y1, _WX_Y2 = 1999, 2000


@register(
    "q_wilcoxon",
    oracle=f"""
    WITH yearly AS (
        SELECT o_custkey AS c, EXTRACT(year FROM o_orderdate) AS y,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN ({_WX_Y1}, {_WX_Y2})
        GROUP BY 1, 2
    ),
    paired AS (
        SELECT a.c, b.s - a.s AS d
        FROM yearly a JOIN yearly b ON b.c = a.c
        WHERE a.y = {_WX_Y1} AND b.y = {_WX_Y2} AND b.s <> a.s
    ),
    census AS (
        SELECT ABS(d) AS ad, COUNT(*) AS t,
               SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS pos
        FROM paired GROUP BY 1
    ),
    ranked AS (
        SELECT ad, t, pos,
               SUM(t) OVER (ORDER BY ad) AS k
        FROM census
    ),
    stats AS (
        SELECT SUM(pos * (2 * (k - t) + t + 1)) AS w2,
               SUM(t) AS n,
               SUM(t * t * t - t) AS tie3
        FROM ranked
    )
    SELECT CAST(w2 AS BIGINT) AS w2,
           CAST(n AS BIGINT) AS n,
           ROUND((w2 - CAST(n AS DECIMAL(38,0)) * (n + 1) / 2)
                 / SQRT(CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) / 6.0
                        - tie3 / 12.0), 4) AS z
    FROM stats
    """,
)
def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X356: Wilcoxon signed-rank test on paired per-customer yearly
    spend (1999 vs 2000) — the PAIRED two-sample member the rank-test
    family lacked (q_mann_whitney is unpaired, q_friedman is k-sample
    repeated measures, X291 McNemar is the binary pair).

    Zero differences drop (standard); |d| midranks come from the
    doubled-rank census over DISTINCT |d| — 2*below + ties + 1 is an
    integer, so W2 = 2*W+ is exact. Normal approximation with the
    exact integer tie correction Sum(t^3 - t); z is the single float.

    100 TB: one (customer, year) partial aggregate, one self-join on
    the customer key, one distinct-|d| census + ordered_cumsum — no
    per-row global window.
    """
    o = table(spark, sf_dir, "orders")
    yearly = (
        o.where(F.year("o_orderdate").isin(_WX_Y1, _WX_Y2))
        .groupBy(
            F.col("o_custkey").alias("c"), F.year("o_orderdate").alias("y")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("s"))
    )
    a = yearly.where(F.col("y") == _WX_Y1).select("c", F.col("s").alias("s1"))
    b = yearly.where(F.col("y") == _WX_Y2).select("c", F.col("s").alias("s2"))
    paired = (
        a.join(b, "c")
        .select((F.col("s2") - F.col("s1")).alias("d"))
        .where(F.col("d") != 0)
    )
    census = paired.groupBy(F.abs("d").alias("ad")).agg(
        F.count("*").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("pos"),
    )
    ranked = ordered_cumsum(census, order_by=["ad"], values={"t": "k"})
    stats = ranked.agg(
        F.sum(
            F.col("pos") * (2 * (F.col("k") - F.col("t")) + F.col("t") + 1)
        ).alias("w2"),
        F.sum("t").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
    )
    dec = "decimal(38,0)"
    n = F.col("n").cast(dec)
    return stats.select(
        F.col("w2").cast("bigint").alias("w2"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("w2") - (n * (F.col("n") + 1)).cast("double") / 2)
            / F.sqrt(
                (n * (F.col("n") + 1) * (2 * F.col("n") + 1)).cast("double") / 6.0
                - F.col("tie3") / 12.0
            ),
            4,
        ).alias("z"),
    )


# --- X357: Hodges-Lehmann pseudomedian ------------------------------------------


@register(
    "q_hodges_lehmann",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY 1
    ),
    walsh AS (
        SELECT (a.rev + b.rev) // 2 AS w
        FROM daily a JOIN daily b ON a.d <= b.d
    ),
    census AS (SELECT w, COUNT(*) AS c FROM walsh GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM census),
    cum AS (
        SELECT w, SUM(c) OVER (ORDER BY w) AS cw FROM census
    )
    -- lower median spelled explicitly (smallest w with 2*cw >= n):
    -- no builtin quantile convention to diverge between engines
    SELECT CAST(MIN(w) AS BIGINT) AS hl_centi,
           CAST(t.n AS BIGINT) AS n_pairs
    FROM cum CROSS JOIN tot t
    WHERE 2 * cw >= t.n
    GROUP BY t.n
    """,
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X357: Hodges-Lehmann one-sample pseudomedian of daily revenue —
    the location estimator dual to the Wilcoxon test (X356): the
    median of all Walsh averages (x_i + x_j)/2, i <= j. ~30% more
    statistically efficient than the plain median under near-normal
    data, breakdown point 29% — the robust-location family member
    next to Weiszfeld (spatial, X342) and Huber (iterative, X341),
    closed-form here.

    Walsh pairs live on the CALENDAR-BOUNDED daily aggregate (~2.4k
    rows at sf0.1 -> ~2.9M pairs — the q_theil_sen bounded-series
    self-join precedent); the pair mean floors exactly (both revs
    positive). The median is the EXPLICIT lower order statistic
    (smallest w with 2*cum >= n) through ordered_weighted_quantile's
    histogram pruning — the first spelling used percentile_disc, a
    holistic aggregate that funnelled all 2.9M Walsh rows into one
    task's sort (measured 9.8 s warm at sf0.1; 2.1 s after).

    100 TB: one daily partial aggregate; the quadratic stage is bound
    by the date domain, never fact rows; the quantile never shuffles
    the pair relation (two scan-shaped histogram passes). Although
    daily is referenced four times downstream (both self-join sides x
    the quantile's two passes), AQE exchange reuse largely
    deduplicates it (3 ReusedExchange in the final plan) — probed
    round 8: an eager localCheckpoint here was NO faster at
    10x-orders-same-calendar (3.57 -> 3.52 s end-to-end) and 49%
    SLOWER at sf0.1 (1.35 -> 2.01 s, the blocking materialization
    defeats pipelining), so the declarative spelling stands
    (contrast q_isotonic_fit, whose checkpoint IS
    load-bearing — its bin table feeds a triple self-join AQE cannot
    dedupe across).
    """
    from laser_hadoop_spark.operators.cumulative import (
        ordered_weighted_quantile,
    )

    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev")
    )
    a = daily.select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    walsh = a.join(b, F.col("da") <= F.col("db")).select(
        F.expr("(ra + rb) DIV 2").alias("w"), F.lit(1).alias("one")
    )
    q = ordered_weighted_quantile(walsh, value_col="w", weight_col="one")
    return q.select(
        F.col("quantile_value").cast("bigint").alias("hl_centi"),
        F.col("total_weight").cast("bigint").alias("n_pairs"),
    )


# --- X358: Monte-Carlo permutation test -----------------------------------------

_PERM_B = 32


def _perm_oracle() -> str:
    # X218's digest-splitting discipline: 5 independent 24-bit uniforms
    # per 128-bit digest (hex chars 6*(b%5)+1..+6 of md5(b DIV 5|key))
    # -> 7 md5s per row for B=32 draws; md5 is the measured bottleneck
    # (6.5 s/scan for 32 digests at sf0.1). Assignment compares the
    # uniform against the PRECOMPUTED threshold t = 2^24*na DIV n —
    # Bernoulli(na/n) to within 2^-24, no modulo bias — and the hashed
    # CTE guarantees each digest is computed once, not once per
    # referencing aggregate.
    def h(b: int) -> str:
        j, slot = divmod(b, 5)
        return (
            f"CAST(('0x' || substring(m{j}, {6 * slot + 1}, 6)) AS BIGINT)"
        )

    digests = ", ".join(
        f"md5(CAST({j} AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR))"
        f" AS m{j}"
        for j in range((_PERM_B + 4) // 5)
    )
    assigns = ",\n               ".join(
        f"SUM(CASE WHEN {h(b)} < t THEN v ELSE 0 END) AS s{b},"
        f" SUM(CASE WHEN {h(b)} < t THEN 1 ELSE 0 END) AS c{b}"
        for b in range(_PERM_B)
    )
    perm_rows = "\n        UNION ALL ".join(
        f"SELECT {b} AS b, s{b} AS sa, c{b} AS ca FROM wide"
        for b in range(_PERM_B)
    )
    return f"""
    WITH v AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga
        FROM orders
    ),
    sizes AS (
        SELECT COUNT(*) AS n, SUM(ga) AS na,
               16777216 * SUM(ga) // COUNT(*) AS t,
               SUM(v) AS s, SUM(CASE WHEN ga = 1 THEN v ELSE 0 END) AS sa0
        FROM v
    ),
    hashed AS (
        SELECT v, {digests} FROM v
    ),
    wide AS (
        SELECT n, na, s, sa0,
               {assigns}
        FROM hashed CROSS JOIN sizes
        GROUP BY n, na, s, sa0
    ),
    perms AS ({perm_rows}),
    obs AS (
        SELECT n, na, s, sa0,
               ABS(CAST(sa0 AS DECIMAL(38,0)) * (n - na)
                   - CAST(s - sa0 AS DECIMAL(38,0)) * na) AS num0,
               CAST(na AS DECIMAL(38,0)) * (n - na) AS den0
        FROM wide
    ),
    cmp AS (
        SELECT p.b,
               CASE WHEN p.ca > 0 AND p.ca < o.n
                     AND ABS(CAST(p.sa AS DECIMAL(38,0)) * (o.n - p.ca)
                             - CAST(o.s - p.sa AS DECIMAL(38,0)) * p.ca)
                         * o.den0
                     >= o.num0 * (CAST(p.ca AS DECIMAL(38,0)) * (o.n - p.ca))
                    THEN 1 ELSE 0 END AS ge
        FROM perms p CROSS JOIN obs o
    )
    SELECT CAST((SELECT SUM(ge) FROM cmp) AS BIGINT) AS n_ge,
           CAST({_PERM_B} AS INT) AS n_perms,
           CAST((1 + (SELECT SUM(ge) FROM cmp)) * 10000
                // ({_PERM_B} + 1) AS BIGINT) AS p_bp,
           CAST(o.num0 AS VARCHAR) AS obs_num,
           CAST(o.den0 AS VARCHAR) AS obs_den
    FROM obs o
    """


@register("q_relabel_test", oracle=_perm_oracle())
def q_relabel_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X358: Monte-Carlo RELABELING (two-sample randomization) test
    for the URGENT-vs-rest gap in mean order value — the TWO-SAMPLE
    member of the resampling-inference family: X244's permutation
    test flips signs of PAIRED differences (its null is symmetry),
    this one reassigns group labels (its null is exchangeability of
    the two samples); X218's bootstrap resamples for a CI.

    B=32 deterministic relabelings: draw b assigns an order to group A
    iff its 24-bit md5 uniform (5 draws per digest — X218's splitting)
    falls below t = 2^24*n_A DIV n — Bernoulli(n_A/n) to within 2^-24
    with no modulo bias (the Monte Carlo relabeling null; group sizes
    vary binomially and the statistic comparison handles it exactly).
    |mean gap| comparisons
    never divide: |S_A*(n-n_A') - S_B*n_A'| * den_obs >= num_obs *
    den_perm, cross-multiplied in DECIMAL(38) (X75 discipline), so
    the p-value numerator is an exact integer count; p_bp = (1+#ge)*
    10000 // (B+1), the add-one Monte Carlo estimator.

    100 TB: ALL 32 relabelings are conditional aggregates in ONE scan
    (the q_bootstrap_ci shape) — the relabeled datasets never exist.
    """
    o = table(spark, sf_dir, "orders")
    # Round 13: the 7-digest md5 projection below is the measured
    # bottleneck and it ran on the one-task single-row-group scan;
    # spread_scan parallelizes the scan stage (guarded no-op at corpus
    # scale — tables.spread_scan). Both consumers (the sizes aggregate
    # and the flagged projection) sit above the same spread relation.
    v = spread_scan(
        o.select("o_orderkey", "o_totalprice", "o_orderpriority"), "o_orderkey"
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("ga"),
    )
    sizes = v.agg(
        F.count("*").alias("n"),
        F.sum("ga").alias("na"),
        F.expr("16777216 * SUM(ga) DIV COUNT(*)").alias("t"),
        # round 12: the threshold ALSO as a 6-digit lowercase hex string
        # — equal-width lowercase hex compares lexicographically exactly
        # like the numbers it spells, so each draw's assignment is ONE
        # substring < t_hex instead of conv(substring, 16, 10) < t. The
        # 32 radix conversions per row were 34% of the query (measured
        # 5.46 -> 3.61 s at sf0.1); the md5 digests themselves are
        # oracle-pinned and stay.
        #
        # Round 13 (ADVICE r12): t <= 2^24 with equality exactly when
        # na == n (every order URGENT); hex(2^24) is SEVEN chars and
        # lpad TRUNCATES to '  100000', silently turning the always-
        # true assignment into a ~6% draw. Guard the width: 'g' sorts
        # after every lowercase hex string, so it spells the same
        # always-true compare the numeric conv(...) < t form had.
        F.expr(
            "CASE WHEN SUM(ga) = COUNT(*) THEN 'g' "
            "ELSE lower(lpad(hex(16777216 * SUM(ga) DIV COUNT(*)), 6, '0')) END"
        ).alias("t_hex"),
        F.sum("v").alias("s"),
        F.sum(F.when(F.col("ga") == 1, F.col("v")).otherwise(0)).alias("sa0"),
    )
    # X218's digest-splitting: 5 independent 24-bit uniforms per md5 ->
    # 7 digests per row for B=32, projected ONCE before the aggregate
    # (md5 is the measured bottleneck: 6.5 s/scan for 32 digests at
    # sf0.1; 12.5 s warm pre-fix, 3.9 s after). Assignment compares
    # against t = 2^24*na DIV n — Bernoulli(na/n) to within 2^-24,
    # no modulo bias.
    # Round 13: the wide stages are built as SQL STRINGS (selectExpr /
    # F.expr), not nested Column chains — the 7 digests + 32 draws +
    # 64 aggregates + 32 explode structs cost ~1.1 s of py4j plan
    # BUILD per run under the Column API (the bench times fn() + the
    # action, so plan build is 40% of the line); one parsed string per
    # expression brings build to ~0.3 s with a bit-identical plan
    # (full-output equality verified, oracle hash green x3 scales).
    digests = [
        f"md5(concat('{j}|', CAST(o_orderkey AS STRING))) AS m{j}"
        for j in range((_PERM_B + 4) // 5)
    ]
    vn = v.crossJoin(F.broadcast(sizes)).selectExpr(
        "v", "n", "na", "t_hex", "s", "sa0", *digests
    )
    # booleans projected once: s{b} and c{b} both reference a{b}, so
    # each 24-bit draw is extracted and compared exactly once per row
    # (inlining the compare into both aggregates doubled the draw work)
    flagged = vn.selectExpr(
        "v", "n", "na", "s", "sa0",
        *[
            f"substring(m{b // 5}, {6 * (b % 5) + 1}, 6) < t_hex AS a{b}"
            for b in range(_PERM_B)
        ],
    )
    aggs = []
    for b in range(_PERM_B):
        aggs.append(F.expr(f"SUM(CASE WHEN a{b} THEN v ELSE 0 END) AS s{b}"))
        aggs.append(F.expr(f"SUM(CASE WHEN a{b} THEN 1 ELSE 0 END) AS c{b}"))
    wide = flagged.groupBy("n", "na", "s", "sa0").agg(*aggs)
    dec = "DECIMAL(38,0)"
    entries = ", ".join(
        f"struct({b} AS b, s{b} AS sa, c{b} AS ca)" for b in range(_PERM_B)
    )
    perms = wide.selectExpr(
        "n", "na", "s", "sa0", f"explode(array({entries})) AS p"
    ).selectExpr("n", "na", "s", "sa0", "p.b", "p.sa", "p.ca")
    num0 = f"abs(CAST(sa0 AS {dec}) * (n - na) - CAST(s - sa0 AS {dec}) * na)"
    den0 = f"(CAST(na AS {dec}) * (n - na))"
    nump = f"abs(CAST(sa AS {dec}) * (n - ca) - CAST(s - sa AS {dec}) * ca)"
    denp = f"(CAST(ca AS {dec}) * (n - ca))"
    cmp = perms.selectExpr(
        "n",
        "na",
        f"{num0} AS num0",
        f"{den0} AS den0",
        f"CASE WHEN ca > 0 AND ca < n AND {nump} * {den0} >= {num0} * {denp} "
        f"THEN 1 ELSE 0 END AS ge",
    )
    out = cmp.groupBy("num0", "den0").agg(F.expr("SUM(ge) AS n_ge"))
    return out.selectExpr(
        "CAST(n_ge AS BIGINT) AS n_ge",
        f"CAST({_PERM_B} AS INT) AS n_perms",
        f"CAST((1 + n_ge) * 10000 DIV ({_PERM_B} + 1) AS BIGINT) AS p_bp",
        "CAST(num0 AS STRING) AS obs_num",
        "CAST(den0 AS STRING) AS obs_den",
    )


# --- X359: grouped (delete-one-group) jackknife ---------------------------------


@register(
    "q_jackknife",
    oracle="""
    WITH v AS (
        SELECT o_orderpriority AS g,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        FROM orders
    ),
    per_g AS (SELECT g, SUM(v) AS sg, COUNT(*) AS ng FROM v GROUP BY g),
    tot AS (SELECT SUM(sg) AS s, SUM(ng) AS n, COUNT(*) AS k FROM per_g),
    loo AS (
        SELECT g, CAST(1000000 * (t.s - p.sg) // (t.n - p.ng) AS BIGINT)
                      AS theta_loo_micro
        FROM per_g p CROSS JOIN tot t
    ),
    dot AS (SELECT SUM(theta_loo_micro) AS sd, COUNT(*) AS k FROM loo),
    var_ AS (
        SELECT CAST(ROUND(SQRT(
                   (d.k - 1.0) / d.k
                   * SUM(CAST((d.k * l.theta_loo_micro - d.sd) AS DOUBLE)
                         * (d.k * l.theta_loo_micro - d.sd))
                   / (CAST(d.k AS DOUBLE) * d.k))) AS BIGINT) AS jk_se_micro
        FROM loo l CROSS JOIN dot d GROUP BY d.k, d.sd
    )
    SELECT l.g, l.theta_loo_micro, v.jk_se_micro,
           CAST(1000000 * t.s // t.n AS BIGINT) AS theta_micro
    FROM loo l CROSS JOIN var_ v CROSS JOIN tot t
    ORDER BY l.g
    """,
)
def q_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X359: delete-one-GROUP jackknife for the mean order value —
    the closed-form resampling sibling of the Poisson bootstrap (X218):
    leave each of the 5 priority strata out once, recompute the mean,
    and the spread of the leave-one-out estimates gives the standard
    error WITHOUT any random draws (the survey-statistics grouped
    jackknife, the right tool when units cluster).

    Every theta_(i) is micro-rounded FIRST (one truncating DIV from
    exact centi sums), then the variance works on integers:
    (k*theta_i - sum theta)^2 avoids the float mean; the final sqrt
    is the only float. Output: per-group leave-one-out means + the
    shared jackknife SE + the full-sample mean.

    100 TB: one 5-row partial aggregate — everything else is
    arithmetic on the broadcast 5-row relation.
    """
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    per_g = v.groupBy("g").agg(
        F.sum("v").alias("sg"), F.count("*").alias("ng")
    )
    tot = per_g.agg(
        F.sum("sg").alias("s"), F.sum("ng").alias("n"), F.count("*").alias("k")
    )
    loo = per_g.crossJoin(F.broadcast(tot)).select(
        "g",
        F.expr("CAST(1000000 * (s - sg) DIV (n - ng) AS BIGINT)").alias(
            "theta_loo_micro"
        ),
        "s",
        "n",
    )
    dot = loo.agg(
        F.sum("theta_loo_micro").alias("sd"), F.count("*").alias("k")
    )
    var_ = (
        loo.crossJoin(F.broadcast(dot))
        .groupBy("k", "sd")
        .agg(
            F.round(
                F.sqrt(
                    (F.col("k") - F.lit(1.0))
                    / F.col("k")
                    * F.sum(
                        (
                            (F.col("k") * F.col("theta_loo_micro") - F.col("sd"))
                            .cast("double")
                        )
                        * (F.col("k") * F.col("theta_loo_micro") - F.col("sd"))
                    )
                    / (F.col("k").cast("double") * F.col("k"))
                )
            )
            .cast("bigint")
            .alias("jk_se_micro")
        )
    )
    return (
        loo.crossJoin(F.broadcast(var_.select("jk_se_micro")))
        .select(
            "g",
            "theta_loo_micro",
            "jk_se_micro",
            F.expr("CAST(1000000 * s DIV n AS BIGINT)").alias("theta_micro"),
        )
        .orderBy("g")
    )


# --- X360: Newman modularity of the label-prop communities ------------------------


@register(
    "q_modularity",
    oracle=f"""
    WITH {_GRAPH_SQL},
    und AS (
        SELECT x AS u, y AS v FROM edges
        UNION ALL SELECT y, x FROM edges
    ),
    l0 AS (SELECT node, node AS lab FROM nodes),
    l1 AS (
        SELECT e.u AS node, MIN(l.lab) AS lab
        FROM und e JOIN l0 l ON l.node = e.v GROUP BY e.u
    ),
    l2 AS (
        SELECT e.u AS node, MIN(l.lab) AS lab
        FROM und e JOIN l1 l ON l.node = e.v GROUP BY e.u
    ),
    m_ AS (SELECT COUNT(*) AS m FROM edges),
    intra AS (
        SELECT la.lab, COUNT(*) AS e_c
        FROM edges e
        JOIN l2 la ON la.node = e.x
        JOIN l2 lb ON lb.node = e.y AND lb.lab = la.lab
        GROUP BY la.lab
    ),
    degs AS (
        SELECT l.lab, SUM(d.deg) AS d_c, COUNT(*) AS sz
        FROM (SELECT u, COUNT(*) AS deg FROM und GROUP BY u) d
        JOIN l2 l ON l.node = d.u
        GROUP BY l.lab
    ),
    per_c AS (
        SELECT d.lab, d.sz, COALESCE(i.e_c, 0) AS e_c, d.d_c,
               4 * m.m * COALESCE(i.e_c, 0) - d.d_c * d.d_c AS q_num_c
        FROM degs d LEFT JOIN intra i ON i.lab = d.lab CROSS JOIN m_ m
    ),
    q AS (
        SELECT CAST(1000000 * SUM(q_num_c)
                    // (4 * CAST(m.m AS BIGINT) * m.m) AS BIGINT) AS q_micro
        FROM per_c CROSS JOIN m_ m GROUP BY m.m
    )
    SELECT p.lab, CAST(p.sz AS BIGINT) AS community_size,
           CAST(p.e_c AS BIGINT) AS intra_edges,
           CAST(p.d_c AS BIGINT) AS degree_sum,
           q.q_micro
    FROM per_c p CROSS JOIN q
    ORDER BY p.lab
    """,
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X360: Newman modularity of the X354 label-propagation
    communities — the number that says whether a community structure
    is better than chance: Q = sum_c [e_c/m - (d_c/2m)^2], computed as
    ONE exact integer rational: Q_micro = 1e6 * sum(4m*e_c - d_c^2)
    DIV 4m^2. The numerator can be negative (worse than random);
    both engines truncate integer division toward zero (probed, see
    PERF_NOTES round 5), so the spelling is engine-identical.

    Closes the community-detection loop: X354 produces the partition,
    this scores it — exactly the LPA + modularity pairing practitioners
    run, with per-community intra-edge and degree-mass evidence rows.

    100 TB: intra-edge counting is the edge list joined twice against
    the broadcast label relation; everything else is censuses over
    community-count-sized relations.
    """
    s = table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("node"))
    edges = _hash_graph(spark, sf_dir)
    und = edges.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    l0 = s.select("node", F.col("node").alias("lab"))
    l1 = (
        und.join(F.broadcast(l0.select(F.col("node").alias("v"), "lab")), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("lab").alias("lab"))
    )
    l2 = (
        und.join(F.broadcast(l1.select(F.col("node").alias("v"), "lab")), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("lab").alias("lab"))
    ).localCheckpoint(eager=True)
    m_ = edges.agg(F.count("*").alias("m"))
    la = l2.select(F.col("node").alias("x"), F.col("lab").alias("lab_x"))
    lb = l2.select(F.col("node").alias("y"), F.col("lab").alias("lab_y"))
    intra = (
        edges.join(F.broadcast(la), "x")
        .join(F.broadcast(lb), "y")
        .where(F.col("lab_x") == F.col("lab_y"))
        .groupBy(F.col("lab_x").alias("lab"))
        .agg(F.count("*").alias("e_c"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("deg"))
    degs = (
        deg.join(
            F.broadcast(l2.select(F.col("node").alias("u"), "lab")), "u"
        )
        .groupBy("lab")
        .agg(F.sum("deg").alias("d_c"), F.count("*").alias("sz"))
    )
    per_c = (
        degs.join(intra, "lab", "left")
        .crossJoin(F.broadcast(m_))
        .select(
            "lab",
            "sz",
            F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
            "d_c",
            (
                4 * F.col("m") * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("d_c") * F.col("d_c")
            ).alias("q_num_c"),
            "m",
        )
    )
    q = per_c.groupBy("m").agg(
        F.expr(
            "CAST(1000000 * SUM(q_num_c) DIV (4 * CAST(m AS BIGINT) * m)"
            " AS BIGINT)"
        ).alias("q_micro")
    )
    return (
        per_c.crossJoin(F.broadcast(q.select("q_micro")))
        .select(
            "lab",
            F.col("sz").cast("bigint").alias("community_size"),
            F.col("e_c").cast("bigint").alias("intra_edges"),
            F.col("d_c").cast("bigint").alias("degree_sum"),
            "q_micro",
        )
        .orderBy("lab")
    )


# --- X361: 2-hop neighborhood census (exact neighborhood function) --------------

_H2_TOP = 100


@register(
    "q_hop2_census",
    oracle=f"""
    WITH {_GRAPH_SQL},
    und AS (
        SELECT x AS u, y AS v FROM edges
        UNION ALL SELECT y, x FROM edges
    ),
    hop1 AS (SELECT u, v FROM und),
    hop2 AS (
        SELECT a.u, b.v
        FROM und a JOIN und b ON b.u = a.v
        WHERE b.v <> a.u
    ),
    reach AS (
        SELECT u, v FROM hop1
        UNION
        SELECT u, v FROM hop2
    ),
    census AS (
        SELECT r.u AS node,
               CAST(COUNT(*) AS BIGINT) AS n_reach2,
               CAST(SUM(CASE WHEN h.v IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hop1
        FROM reach r LEFT JOIN hop1 h ON h.u = r.u AND h.v = r.v
        GROUP BY r.u
    )
    SELECT node, n_hop1, n_reach2,
           CAST(n_reach2 - n_hop1 AS BIGINT) AS n_hop2_only
    FROM census
    ORDER BY n_reach2 DESC, node
    LIMIT {_H2_TOP}
    """,
)
def q_hop2_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X361: exact 2-hop neighborhood function — per node, how many
    distinct nodes sit within <= 2 hops (and the 1-hop / 2-hop-only
    split). N(2) of the neighborhood function underlying effective-
    diameter estimation (HyperANF runs this same expansion on HLL
    registers — X349's sketch — when exact distinct sets stop
    fitting; this is the exact form that certifies it). BFS (X113)
    answers one source; this censuses ALL sources at bounded depth —
    the reachability profile feeding friend-of-friend recommendation
    and influence-radius features.

    100 TB: one edge-edge equi-join (the SpMV shape) + a UNION
    distinct — shuffle keys are node pairs; hub skew bounds are the
    max-degree^2 fan of the 2-hop expansion, the same bound every
    wedge op documents. The exact form is for dimension-sized graphs;
    at social-graph scale swap the distinct set for X349 registers.
    """
    edges = _hash_graph(spark, sf_dir)
    und = edges.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    hop1 = und
    a = und.select(F.col("u").alias("u1"), F.col("v").alias("mid"))
    b = und.select(F.col("u").alias("mid"), F.col("v").alias("v2"))
    hop2 = (
        a.join(b, "mid")
        .where(F.col("v2") != F.col("u1"))
        .select(F.col("u1").alias("u"), F.col("v2").alias("v"))
    )
    reach = hop1.unionByName(hop2).distinct()
    census = (
        reach.join(
            hop1.select("u", "v", F.lit(1).alias("is1")), ["u", "v"], "left"
        )
        .groupBy(F.col("u").alias("node"))
        .agg(
            F.count("*").cast("bigint").alias("n_reach2"),
            F.sum(F.coalesce(F.col("is1"), F.lit(0)))
            .cast("bigint")
            .alias("n_hop1"),
        )
    )
    return (
        census.select(
            "node",
            "n_hop1",
            "n_reach2",
            (F.col("n_reach2") - F.col("n_hop1"))
            .cast("bigint")
            .alias("n_hop2_only"),
        )
        .orderBy(F.desc("n_reach2"), "node")
        .limit(_H2_TOP)
    )
