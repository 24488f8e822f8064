"""Round-12 batch-8 law tests: first-principles checks for inclusion-
dependency discovery, candidate-key discovery, grouped OLS elasticity,
and the business-day latency arithmetic."""

from __future__ import annotations

from datetime import date, datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from datawarehouse1_spark import registry
from datawarehouse1_spark.queries.profiling import _ind_arm, _key_arm

registry.load_all()

_CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
    " c_mktsegment string"
)
_NATION_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"
_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_LINEITEM_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
    " l_quantity double, l_extendedprice double, l_discount double,"
    " l_tax double, l_returnflag string, l_linestatus string,"
    " l_shipdate timestamp"
)
_PART_SCHEMA = (
    "p_partkey long, p_name string, p_brand string, p_type string,"
    " p_size int, p_retailprice double"
)


def _stage(spark, tmp_path, name, schema, rows):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


# ------------------------------------------------------ IND discovery


def test_ind_holds_and_violations_counted(spark, tmp_path):
    """child ⊆ parent ⇒ holds=1/n_missing=0; each distinct child value
    absent from the parent counts exactly once; NULL child values are
    ignored (an IND is a statement about values, not completeness)."""
    sf = _stage(
        spark,
        tmp_path,
        "customer",
        _CUST_SCHEMA,
        [
            (1, "a", 0, 0.0, "S"),
            (2, "b", 1, 0.0, "S"),
            (3, "c", 1, 0.0, "S"),  # duplicate nationkey: distinct=2
            (4, "d", None, 0.0, "S"),  # NULL fk ignored
            (5, "e", 9, 0.0, "S"),  # orphan value
        ],
    )
    _stage(
        spark, tmp_path, "nation",
        _NATION_SCHEMA, [(0, "zero", 0), (1, "one", 0)],
    )
    row = _ind_arm(
        spark, sf, "customer", "c_nationkey", "nation", "n_nationkey"
    ).collect()[0]
    assert (row.n_values, row.n_missing, row.holds) == (3, 1, 0)

    # drop the orphan: the IND holds
    sf2 = _stage(
        spark,
        tmp_path / "ok",
        "customer",
        _CUST_SCHEMA,
        [(1, "a", 0, 0.0, "S"), (2, "b", 1, 0.0, "S")],
    )
    _stage(
        spark, tmp_path / "ok", "nation",
        _NATION_SCHEMA, [(0, "zero", 0), (1, "one", 0)],
    )
    row = _ind_arm(
        spark, sf2, "customer", "c_nationkey", "nation", "n_nationkey"
    ).collect()[0]
    assert (row.n_values, row.n_missing, row.holds) == (2, 0, 1)


# ------------------------------------------------------ key discovery


def test_key_discovery_counts_duplicate_surplus(spark, tmp_path):
    """n_rows/n_keys/n_dup_rows tie out exactly; a column is a key iff
    its distinct-tuple count equals the row count."""
    rows = [
        (1, 10, "O", 5.0, datetime(1995, 1, 1), "1-URGENT"),
        (2, 10, "O", 6.0, datetime(1995, 1, 2), "1-URGENT"),
        (3, 20, "F", 7.0, datetime(1995, 1, 1), "2-HIGH"),
        (4, 20, "F", 8.0, datetime(1995, 1, 1), "2-HIGH"),
    ]
    sf = _stage(spark, tmp_path, "orders", _ORDERS_SCHEMA, rows)

    pk = _key_arm(spark, sf, "orders", ("o_orderkey",)).collect()[0]
    assert (pk.n_rows, pk.n_keys, pk.n_dup_rows, pk.is_key) == (4, 4, 0, 1)

    fk = _key_arm(spark, sf, "orders", ("o_custkey",)).collect()[0]
    assert (fk.n_rows, fk.n_keys, fk.n_dup_rows, fk.is_key) == (4, 2, 2, 0)

    pair = _key_arm(
        spark, sf, "orders", ("o_custkey", "o_orderdate")
    ).collect()[0]
    # (20, 1995-01-01) appears twice => 3 distinct tuples of 4 rows
    assert (pair.n_rows, pair.n_keys, pair.is_key) == (4, 3, 0)


# ------------------------------------------------------ elasticity


def test_elasticity_exact_line_and_degenerate_group(spark, tmp_path):
    """Points exactly on y = 2x + 3 recover slope 2, intercept 3,
    R² = 1 bit-for-bit; a constant-x brand yields NULLs (not a crash);
    quantities/discounts travel as cents so slope is cents-per-cent
    (dimensionless), matching the unit algebra."""
    li_rows = []
    # brand LINE: quantity = 2*discount + 3 (in raw units; cents scale
    # by 100 on both axes, so the slope is unchanged and the intercept
    # is 300 cents => 3.0 units * 100)
    for i, d in enumerate([0.00, 0.01, 0.02, 0.04, 0.08]):
        li_rows.append(
            (1, 100, 1, i + 1, 2 * d + 3, 1.0, d, 0.0, "N", "O",
             datetime(1995, 1, 1))
        )
    # brand FLAT: constant discount => degenerate fit
    for i in range(3):
        li_rows.append(
            (2, 200, 1, i + 1, float(i + 1), 1.0, 0.05, 0.0, "N", "O",
             datetime(1995, 1, 1))
        )
    sf = _stage(spark, tmp_path, "lineitem", _LINEITEM_SCHEMA, li_rows)
    _stage(
        spark, tmp_path, "part", _PART_SCHEMA,
        [(100, "pa", "LINE", "t", 1, 1.0), (200, "pb", "FLAT", "t", 1, 1.0)],
    )
    out = {
        r.p_brand: r
        for r in registry.QUERIES["q_orders_price_elasticity"](
            spark, sf
        ).collect()
    }
    line = out["LINE"]
    assert line.n_lines == 5
    assert line.slope == 2.0
    assert line.intercept == 300.0  # cents of quantity at zero discount
    assert line.r2 == 1.0
    flat = out["FLAT"]
    assert flat.slope is None and flat.intercept is None and flat.r2 is None


# ------------------------------------------------------ business days


def _busdays_ref(o: date, s: date) -> int:
    """Reference: weekdays in (o, s] by literal iteration."""
    n, d = 0, o
    while d < s:
        d += timedelta(days=1)
        if d.weekday() < 5:
            n += 1
    return n


def _busdays_closed_form(o: date, s: date) -> int:
    """Pure-python mirror of the query's W(ship)-W(order) arithmetic
    (days since the Monday epoch 1969-12-29, truncating // as both
    engines' non-negative div)."""
    monday = date(1969, 12, 29)

    def W(d: date) -> int:
        m = (d - monday).days
        return 5 * (m // 7) + min(m % 7 + 1, 5)

    return W(s) - W(o)


@given(
    o_off=st.integers(min_value=0, max_value=6000),
    span=st.integers(min_value=0, max_value=4000),
)
@settings(max_examples=300, deadline=None)
def test_business_days_closed_form_property(o_off, span):
    """The closed form equals literal weekday-walking for arbitrary
    date pairs across months, years, and every weekday phase — pure
    arithmetic, so hypothesis can afford hundreds of examples."""
    o = date(1990, 1, 1) + timedelta(days=o_off)
    s = o + timedelta(days=span)
    assert _busdays_closed_form(o, s) == _busdays_ref(o, s), (o, s)


def test_business_days_match_literal_iteration(spark, tmp_path):
    """The closed-form W(ship)-W(order) equals literal day-walking for
    a battery of boundary cases: same day, Fri→Mon, Sat→Sun spans,
    full weeks, and a multi-month gap."""
    cases = [
        (date(1995, 3, 6), date(1995, 3, 6)),    # Mon -> Mon same day: 0
        (date(1995, 3, 10), date(1995, 3, 13)),  # Fri -> Mon: 1
        (date(1995, 3, 11), date(1995, 3, 12)),  # Sat -> Sun: 0
        (date(1995, 3, 6), date(1995, 3, 13)),   # full week: 5
        (date(1995, 3, 8), date(1995, 5, 30)),   # long span
        (date(1995, 3, 12), date(1995, 3, 18)),  # Sun -> Sat: 5
    ]
    o_rows = []
    li_rows = []
    for i, (o, s) in enumerate(cases):
        ok = i + 1
        o_rows.append(
            (ok, 1, "O", 1.0, datetime(o.year, o.month, o.day),
             f"case-{i}")
        )
        li_rows.append(
            (ok, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             datetime(s.year, s.month, s.day))
        )
    sf = _stage(spark, tmp_path, "orders", _ORDERS_SCHEMA, o_rows)
    _stage(spark, tmp_path, "lineitem", _LINEITEM_SCHEMA, li_rows)
    got = {
        r.o_orderpriority: r.busdays
        for r in registry.QUERIES["q_date_business_days"](
            spark, sf
        ).collect()
    }
    for i, (o, s) in enumerate(cases):
        assert got[f"case-{i}"] == _busdays_ref(o, s), (i, o, s)
