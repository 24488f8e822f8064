"""Round-8 profiling extensions: chi-square drift, an exact-sum
correlation matrix, character-diversity (Gini) quality scoring, and a
DSIR-flavored target-affinity reweighting score.

All four follow the repo's rational-statistic doctrine (SCALE.md rule
10, established by q_drift_tvd_report): wherever the textbook statistic
needs a transcendental (PSI/KL need ln, Shannon entropy needs log2),
we substitute the rational member of the same family — chi-square for
PSI, Gini impurity for entropy, a smoothed frequency-ratio for the
DSIR log-likelihood ratio — so both engines compute the IDENTICAL
integer, not a float that agrees to within an ulp. Where a sqrt is
unavoidable (Pearson correlation) the inputs are exact decimal sums
and the only float ops are IEEE-correctly-rounded (div, sqrt), with a
final round-to-6dp absorbing any cast wiggle (same determinism tier as
q_stats_moments, from stronger inputs).

Reference parity: the reference ETL (etl/app.py) has no profiling
surface; SURVEY.md §2D extension inventory (data-quality / LLM-curation
tier). DSIR: Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" (hashed n-gram features); chi-square drift is
the classic two-sample homogeneity test on a categorical column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import table
from datawarehouse1_spark.functions.money import money_units_long
from datawarehouse1_spark.queries.deciles import running_sum
from datawarehouse1_spark.registry import declared

_DEC = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Chi-square drift report (the rational sibling of PSI)
# ---------------------------------------------------------------------------


@declared(
    "q_drift_chisq_report",
    oracle="""
    WITH per_bin AS (
      SELECT o_orderpriority AS bin,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
               AS cnt_a,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 <> 0) AS BIGINT)
               AS cnt_b
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT *,
             SUM(cnt_a) OVER () AS n_a, SUM(cnt_b) OVER () AS n_b
      FROM per_bin
    ),
    contrib AS (
      SELECT bin, cnt_a, cnt_b,
             CAST(cnt_a AS DECIMAL(38,0)) * n_b
               - CAST(cnt_b AS DECIMAL(38,0)) * n_a AS d,
             n_a, n_b
      FROM tot
    ),
    binned AS (
      SELECT bin, cnt_a, cnt_b,
             CAST(floor(d * d * 1000000
                        / ((cnt_a + cnt_b)
                           * CAST(n_a AS DECIMAL(38,0)) * n_b))
                  AS BIGINT) AS chisq_e6
      FROM contrib
    )
    SELECT bin, cnt_a, cnt_b, chisq_e6,
           CAST(SUM(chisq_e6) OVER () AS BIGINT) AS chisq_total_e6
    FROM binned
    """,
)
def q_drift_chisq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square drift over a categorical column (the
    homogeneity test a pipeline runs when PSI would be the textbook
    pick): snapshot halves A/B by o_orderkey parity, bins =
    o_orderpriority, per-bin contribution via the rational identity

        (cntA - E_A)^2/E_A + (cntB - E_B)^2/E_B
          = (cntA*nB - cntB*nA)^2 / ((cntA+cntB) * nA * nB)

    computed entirely in DECIMAL(38,0) integer arithmetic and floored
    to micro-units — both engines produce the IDENTICAL number, where
    PSI's ln() differs in the last ulp between libms (the same
    substitution q_drift_tvd_report makes; chi-square is additionally
    the statistic with a p-value). chisq_total_e6 sums the FLOORED
    per-bin values (deterministic by construction). One aggregate over
    the fact + one window over <=5 bin rows; D^2*1e6 stays inside
    DECIMAL(38) up to ~1e9 rows per class — beyond that the statistic
    itself saturates (any drift is significant) and a double path
    would be the right tool."""
    o = table(spark, sf_dir, "orders")
    per_bin = o.groupBy(F.col("o_orderpriority").alias("bin")).agg(
        F.count(F.when(F.col("o_orderkey") % 2 == 0, 1))
        .cast("long")
        .alias("cnt_a"),
        F.count(F.when(F.col("o_orderkey") % 2 != 0, 1))
        .cast("long")
        .alias("cnt_b"),
    )
    w = Window.partitionBy()
    n_a = F.sum("cnt_a").over(w)
    n_b = F.sum("cnt_b").over(w)
    d = (
        F.col("cnt_a").cast(_DEC) * n_b - F.col("cnt_b").cast(_DEC) * n_a
    ).cast(_DEC)
    chisq = (
        F.floor(
            d
            * d
            * F.lit(1000000)
            / (
                (F.col("cnt_a") + F.col("cnt_b"))
                * n_a.cast(_DEC)
                * n_b
            )
        )
        .cast("long")
        .alias("chisq_e6")
    )
    binned = per_bin.select("bin", "cnt_a", "cnt_b", chisq)
    return binned.select(
        "bin",
        "cnt_a",
        "cnt_b",
        "chisq_e6",
        F.sum("chisq_e6").over(Window.partitionBy()).alias("chisq_total_e6"),
    )


# ---------------------------------------------------------------------------
# Correlation matrix from exact decimal sums
# ---------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = tuple(
    (_CORR_COLS[i], _CORR_COLS[j])
    for i in range(len(_CORR_COLS))
    for j in range(i + 1, len(_CORR_COLS))
)


def _cents_sql(col: str) -> str:
    # exact integer cents: 2-dec data -> DECIMAL(18,2) -> *100 -> int
    return f"CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"


def _corr_oracle() -> str:
    sums = ["CAST(COUNT(*) AS DECIMAL(38,0)) AS n"]
    for c in _CORR_COLS:
        sums.append(f"SUM({_cents_sql(c)}) AS s_{c}")
        sums.append(f"SUM({_cents_sql(c)} * {_cents_sql(c)}) AS ss_{c}")
    for x, y in _CORR_PAIRS:
        sums.append(f"SUM({_cents_sql(x)} * {_cents_sql(y)}) AS sp_{x}_{y}")
    arms = []
    for x, y in _CORR_PAIRS:
        arms.append(
            f"""
      SELECT '{x}' AS col_x, '{y}' AS col_y,
             CAST(n AS BIGINT) AS n_rows,
             round(CAST(n * sp_{x}_{y} - s_{x} * s_{y} AS DOUBLE)
                   / sqrt(CAST(n * ss_{x} - s_{x} * s_{x} AS DOUBLE))
                   / sqrt(CAST(n * ss_{y} - s_{y} * s_{y} AS DOUBLE)), 6)
               AS corr6
      FROM sums"""
        )
    return (
        "WITH sums AS (SELECT "
        + ", ".join(sums)
        + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(arms)
    )


@declared("q_stats_corr_matrix", oracle=_corr_oracle())
def q_stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures,
    ONE scan: all 15 co-moment sums (n, 4 sums, 4 sum-of-squares, 6
    cross-products) accumulate in a single aggregate as EXACT
    DECIMAL(38,0) integer-cents arithmetic (order-independent, unlike
    the engines' native one-pass corr() whose co-moment update order
    differs), then each pair's r is assembled from the exact sums with
    IEEE-only float ops (cast, div, sqrt — all correctly rounded) and
    rounded to 6 dp. Stronger determinism than q_stats_moments' native
    corr() from the same single-scan cost. The 6-row matrix unpivots
    from the one aggregate row — no second scan, no per-pair jobs; at
    100 TB this is one partial-aggregated pass and a 1-row exchange."""
    li = table(spark, sf_dir, "lineitem")

    def cents(c: str) -> F.Column:
        return (F.col(c).cast("decimal(18,2)") * 100).cast(_DEC)

    aggs = [F.count(F.lit(1)).cast(_DEC).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(cents(c)).alias(f"s_{c}"))
        aggs.append(F.sum(cents(c) * cents(c)).alias(f"ss_{c}"))
    for x, y in _CORR_PAIRS:
        aggs.append(F.sum(cents(x) * cents(y)).alias(f"sp_{x}_{y}"))
    sums = li.agg(*aggs)

    pairs = F.array(
        *[
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col("n").cast("long").alias("n_rows"),
                F.round(
                    (
                        F.col("n") * F.col(f"sp_{x}_{y}")
                        - F.col(f"s_{x}") * F.col(f"s_{y}")
                    ).cast("double")
                    / F.sqrt(
                        (
                            F.col("n") * F.col(f"ss_{x}")
                            - F.col(f"s_{x}") * F.col(f"s_{x}")
                        ).cast("double")
                    )
                    / F.sqrt(
                        (
                            F.col("n") * F.col(f"ss_{y}")
                            - F.col(f"s_{y}") * F.col(f"s_{y}")
                        ).cast("double")
                    ),
                    6,
                ).alias("corr6"),
            )
            for x, y in _CORR_PAIRS
        ]
    )
    return (
        sums.select(F.explode(pairs).alias("p"))
        .select("p.col_x", "p.col_y", "p.n_rows", "p.corr6")
    )


# ---------------------------------------------------------------------------
# Character-diversity quality score (Gini impurity, the rational entropy)
# ---------------------------------------------------------------------------


@declared(
    "q_text_char_gini",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents
    ),
    per_char AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM chars WHERE ch <> '' GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_chars_counted,
           CAST(COUNT(*) AS BIGINT) AS distinct_chars,
           CAST(floor((SUM(cnt) * SUM(cnt) - SUM(cnt * cnt)) * 1000000.0
                      / (SUM(cnt) * SUM(cnt))) AS BIGINT) AS gini_e6
    FROM per_char
    GROUP BY doc_id
    """,
)
def q_text_char_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-diversity quality signal: Gini impurity
    1 - sum(p_c^2) over the document's character distribution, in
    floored micro-units. Gini instead of Shannon entropy on purpose —
    it is the RATIONAL member of the diversity family ((L^2 - sum
    cnt^2) / L^2, pure integer arithmetic) so both engines produce the
    identical number, where entropy's log2 differs in the last ulp
    between libms. Low-gini documents are the keyboard-mash /
    single-char-spam tier every quality-filter stack drops (Gopher's
    symbol-ratio cousin). Two partial-aggregated exchanges, both keyed
    by doc_id(+char): the shuffle carries (doc_id, char, count)
    triples, never the text itself. NOTE: character = UTF-16 code unit
    on the Spark side (Java regex split) and code point in DuckDB —
    identical for this corpus's BMP text; a surrogate-pair corpus
    would need a codepoint-explicit splitter."""
    d = table(spark, sf_dir, "documents")
    per_char = (
        d.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    s = F.sum("cnt")
    ssq = F.sum(F.col("cnt") * F.col("cnt"))
    return per_char.groupBy("doc_id").agg(
        s.cast("long").alias("n_chars_counted"),
        F.count(F.lit(1)).cast("long").alias("distinct_chars"),
        F.floor((s * s - ssq) * F.lit(1000000.0) / (s * s))
        .cast("long")
        .alias("gini_e6"),
    )


# ---------------------------------------------------------------------------
# DSIR-flavored target-affinity reweighting (hashed unigram features)
# ---------------------------------------------------------------------------

# 256 hashed features from md5's first two hex nibbles (portable
# hex->int: DuckDB has no conv(); instr over the hex alphabet is the
# same trick q_curation_shard_assign uses).
_FEAT = (
    "(instr('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16"
    " + instr('0123456789abcdef', substr(md5(token), 2, 1)) - 1"
)


@declared(
    "q_curation_dsir_affinity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, token
      FROM (SELECT doc_id, lang,
                   unnest(string_split_regex(lower(text), '\\s+')) AS token
            FROM documents)
      WHERE token <> ''
    ),
    feats AS (
      SELECT doc_id, lang, CAST({_FEAT} AS BIGINT) AS feat FROM toks
    ),
    feat_stats AS (
      SELECT feat,
             CAST(COUNT(*) AS BIGINT) AS cnt_all,
             CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS cnt_tgt
      FROM feats GROUP BY feat
    ),
    totals AS (
      SELECT feat, cnt_all, cnt_tgt,
             SUM(cnt_all) OVER () AS n_all, SUM(cnt_tgt) OVER () AS n_tgt
      FROM feat_stats
    ),
    weights AS (
      SELECT feat,
             CAST(floor((cnt_tgt + 1) * CAST(n_all AS DECIMAL(38,0))
                        * 1000000 / ((cnt_all + 1)
                                     * CAST(n_tgt AS DECIMAL(38,0))))
                  AS BIGINT) AS w_e6
      FROM totals
    )
    SELECT f.doc_id,
           MIN(f.lang) AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(floor(CAST(SUM(w.w_e6) AS DECIMAL(38,0)) * 1.0 / COUNT(*))
                AS BIGINT) AS affinity_e6
    FROM feats f JOIN weights w ON f.feat = w.feat
    GROUP BY f.doc_id
    """,
)
def q_curation_dsir_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance reweighting (Xie et al. 2023) with a
    rational statistic: every token hashes to one of 256 md5 features;
    the target corpus (lang='en') and the raw corpus each induce a
    feature distribution; a document's affinity is the mean
    add-one-smoothed frequency ratio p_target(f)/p_raw(f) of its
    tokens, in floored micro-units. The textbook DSIR weight is the
    SUM OF LOGS of these ratios — ln() is libm-dependent, so the score
    here is the mean of the per-feature RATIOS (same ordering signal
    for selection/reweighting, exact integer arithmetic end-to-end;
    the same PSI->chi-square substitution this module makes twice).
    Shape: the 256-row feature table aggregates once (conditional
    count carries target and raw counts in ONE pass) and broadcasts
    back onto the token stream; shuffles carry (feat) counts and
    (doc_id) partial sums — document text never shuffles. Documents
    with zero tokens have no affinity row (no tokens to weight)."""
    d = table(spark, sf_dir, "documents")
    feats = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .select("doc_id", "lang", F.expr(_FEAT).cast("long").alias("feat"))
    )
    feat_stats = feats.groupBy("feat").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_all"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("cnt_tgt"),
    )
    w = Window.partitionBy()
    weights = feat_stats.select(
        "feat",
        F.floor(
            (F.col("cnt_tgt") + 1)
            * F.sum("cnt_all").over(w).cast(_DEC)
            * F.lit(1000000)
            / ((F.col("cnt_all") + 1) * F.sum("cnt_tgt").over(w).cast(_DEC))
        )
        .cast("long")
        .alias("w_e6"),
    )
    return (
        feats.join(F.broadcast(weights), "feat")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.floor(F.sum("w_e6").cast(_DEC) * F.lit(1.0) / F.count(F.lit(1)))
            .cast("long")
            .alias("affinity_e6"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped linear regression from exact sums
# ---------------------------------------------------------------------------


@declared(
    "q_stats_regression",
    oracle=f"""
    WITH sums AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM({_cents_sql('l_quantity')}) AS sx,
             SUM({_cents_sql('l_extendedprice')}) AS sy,
             SUM({_cents_sql('l_quantity')} * {_cents_sql('l_quantity')})
               AS sxx,
             SUM({_cents_sql('l_quantity')} * {_cents_sql('l_extendedprice')})
               AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope6,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 100, 6) AS intercept6
    FROM sums
    """,
)
def q_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit (extendedprice ~ quantity
    per return flag) — the engines' native regr_slope/regr_intercept
    use one-pass co-moment updates whose rounding differs, so the fit
    is assembled from the SAME exact-DECIMAL integer-cents sums as
    q_stats_corr_matrix: one partial-aggregated scan collects
    (n, Sx, Sy, Sxx, Sxy) per group exactly, then slope/intercept come
    out with IEEE-only float ops and a 6dp round. The cents scaling
    cancels in the slope (price/qty, both x100) and the intercept
    divides back by 100 to dollars. One exchange on the group key."""
    li = table(spark, sf_dir, "lineitem")

    def cents(c: str) -> F.Column:
        return (F.col(c).cast("decimal(18,2)") * 100).cast(_DEC)

    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(cents("l_quantity")).alias("sx"),
        F.sum(cents("l_extendedprice")).alias("sy"),
        F.sum(cents("l_quantity") * cents("l_quantity")).alias("sxx"),
        F.sum(cents("l_quantity") * cents("l_extendedprice")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / 100
    )
    return sums.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(slope, 6).alias("slope6"),
        F.round(intercept, 6).alias("intercept6"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov drift report (the rational test for CONTINUOUS columns)
# ---------------------------------------------------------------------------


@declared(
    "q_drift_ks_report",
    oracle="""
    WITH per_val AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
               AS cnt_a,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 <> 0) AS BIGINT)
               AS cnt_b
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT cents,
             SUM(cnt_a) OVER (ORDER BY cents) AS c_a,
             SUM(cnt_b) OVER (ORDER BY cents) AS c_b,
             SUM(cnt_a) OVER () AS n_a,
             SUM(cnt_b) OVER () AS n_b
      FROM per_val
    ),
    d AS (
      SELECT cents AS at_value_cents,
             CAST(abs(CAST(c_a AS DECIMAL(38,0)) * n_b
                      - CAST(c_b AS DECIMAL(38,0)) * n_a) AS BIGINT)
               AS d_num,
             CAST(n_a AS BIGINT) AS n_a,
             CAST(n_b AS BIGINT) AS n_b
      FROM cum
    )
    SELECT at_value_cents, d_num,
           CAST(floor(CAST(d_num AS DECIMAL(38,0)) * 1000000
                      / (CAST(n_a AS DECIMAL(38,0)) * n_b)) AS BIGINT)
             AS d_e6,
           n_a, n_b
    FROM d
    ORDER BY d_num DESC, at_value_cents ASC
    LIMIT 1
    """,
)
def q_drift_ks_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift over a CONTINUOUS column —
    completing the drift battery (TVD and chi-square cover categorical
    bins; KS is what a pipeline runs on a money/latency column where
    binning would hide the shift). Snapshot halves A/B by o_orderkey
    parity, values = exact integer cents (2-dec double -> DECIMAL(18,2)
    -> *100, the q_stats_corr_matrix discipline). The statistic is
    BORN rational: D = max_x |cA(x)*nB - cB(x)*nA| / (nA*nB), so both
    engines produce the identical integer numerator and the identical
    floored micro-unit quotient — no transcendental to substitute.

    Scale shape (the reason this isn't one global window): the
    empirical CDFs come from queries/deciles.py::running_sum, the
    TWO-LEVEL cumulative sum of rule 22. Distinct values pre-aggregate
    (one exchange), cumulate WITHIN a fixed-width $25k price bucket
    (one exchange, parallel across buckets), and only the <=40-row
    bucket-total summary crosses a global window — then broadcasts
    back as per-bucket offsets and totals. The unbounded window never
    touches per-value rows, so the plan
    survives a 100x scale-up where a naive
    `Window.orderBy(value)` cumsum would serialize the whole column
    through one task (SCALE.md rule 5). argmax resolves via
    TakeOrderedAndProject (d_num desc, value asc tie-break), never a
    full sort."""
    o = table(spark, sf_dir, "orders")
    per_val = (
        o.select(
            money_units_long("o_totalprice").alias("cents"),
            (F.col("o_orderkey") % 2 == 0).alias("is_a"),
        )
        .groupBy("cents")
        .agg(
            F.count(F.when(F.col("is_a"), 1)).cast("long").alias("cnt_a"),
            F.count(F.when(~F.col("is_a"), 1)).cast("long").alias("cnt_b"),
        )
    )
    # $25k buckets of cents: the price domain is fixed, so the bucket
    # count is bounded (~40) at ANY scale factor
    cum = running_sum(per_val, "cents", ["cnt_a", "cnt_b"], 2_500_000)
    c_a = (F.col("cnt_a_before") + F.col("cnt_a")).cast(_DEC)
    c_b = (F.col("cnt_b_before") + F.col("cnt_b")).cast(_DEC)
    d_num = F.abs(c_a * F.col("n_b") - c_b * F.col("n_a"))
    return (
        cum.withColumnsRenamed({"cnt_a_total": "n_a", "cnt_b_total": "n_b"})
        .select(
            F.col("cents").alias("at_value_cents"),
            d_num.cast("long").alias("d_num"),
            F.floor(
                d_num
                * F.lit(1000000)
                / (F.col("n_a").cast(_DEC) * F.col("n_b"))
            )
            .cast("long")
            .alias("d_e6"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
        .orderBy(F.desc("d_num"), F.asc("at_value_cents"))
        .limit(1)
    )
