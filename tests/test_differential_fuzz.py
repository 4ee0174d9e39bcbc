"""Generated-input differential fuzz: Spark vs DuckDB on hypothesis-built
event tables (round 5).

The oracle gate and the local oracle suite compare engines on ONE data
shape — the driver fixtures. These tests generate adversarial small
`events` tables (colliding timestamps, single users, empty event-type
classes, interleaved sessions) and run registry queries through BOTH
engines on them, using the exact gate comparison. Targets are the
operators whose semantics live in ordering edges the fixture may never
hit: the as-of join (timestamp ties), cohort retention (first-seen
boundaries), and the transition matrix (single-event users, self-loops).

Queries are integer/count-valued, so there is no float-rounding
ambiguity to mask a real mismatch. Example counts are kept small: each
example runs two engines end-to-end.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from streamsurfer_spark.queries import registry
from tests.conftest import assert_matches_oracle

EVENT_TYPES = ("view", "click", "purchase", "error")

# timestamps inside one hour at second granularity → dense collisions
_TS_BASE = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC in micros

event_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # user_id
        st.integers(min_value=0, max_value=120),      # seconds offset
        st.sampled_from(EVENT_TYPES),                 # event_type
    ),
    min_size=1,
    max_size=40,
)


def _write_events(rows, path: str) -> None:
    # event_ids deliberately COLLIDE (~2 rows per id) so the dedup and
    # tie-resolution paths actually fire; duplicate (user, ts, type)
    # triples are likewise allowed and meaningful
    n = len(rows)
    t = pa.table(
        {
            "event_id": pa.array([i % (n // 2 + 1) for i in range(n)], pa.int64()),
            "ts": pa.array(
                [_TS_BASE + sec * 1_000_000 for _, sec, _ in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _ in rows], pa.int64()),
            "event_type": pa.array([e for _, _, e in rows], pa.string()),
            "value": pa.array([float(i % 7) for i in range(n)], pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(t, os.path.join(path, "events.parquet"))


def _check(spark, tmp_path, rows, name):
    d = str(tmp_path)
    _write_events(rows, d)
    spec = registry()[name]
    df = spec.spark(spark, d)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(d, 'events.parquet')}')"
        )
        assert_matches_oracle(df, con, spec.oracle, name=f"{name} fuzz")
    finally:
        con.close()


@pytest.mark.parametrize(
    "name",
    [
        "qt01_asof_last_click",
        "qt13_cohort_retention",
        "qt14_transition_matrix",
        "qt03_sessionize",       # gap ties at the session boundary
        "qs05_dedup_earliest",   # duplicate-id tie resolution
        "qt05_ohlc_bars",        # open/close ties at equal timestamps
    ],
)
@given(rows=event_rows)
@settings(
    max_examples=max(8, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_events_match_oracle(spark, tmp_path_factory, rows, name):
    tmp = tmp_path_factory.mktemp("fuzz")
    _check(spark, tmp, rows, name)


# --- tie-heavy numeric fuzz: extrema and percentile families ---------------

cents_values = st.lists(
    st.tuples(
        st.sampled_from(("A", "B")),                    # group
        st.integers(min_value=-500, max_value=500),     # value in cents
    ),
    min_size=1,
    max_size=30,
)


def _check_numeric(spark, tmp_path, rows, name):
    """Generate tie-heavy numeric tables for the extrema/percentile family.

    Values are exact cent grids (x/100 is exact enough in binary64 for
    round() to agree), duplicated freely — the tie edges max_by/min_by
    and percentile_disc are specified to resolve deterministically.
    """
    d = str(tmp_path)
    vals = [c / 100.0 for _, c in rows]
    groups = [g for g, _ in rows]
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(n), pa.int64()),
                "c_mktsegment": pa.array(groups, pa.string()),
                "c_acctbal": pa.array(vals, pa.float64()),
            }
        ),
        os.path.join(d, "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "l_returnflag": pa.array(groups, pa.string()),
                "l_extendedprice": pa.array(vals, pa.float64()),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    spec = registry()[name]
    df = spec.spark(spark, d)
    con = duckdb.connect()
    try:
        for t in ("customer", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(d, t + '.parquet')}')"
            )
        assert_matches_oracle(df, con, spec.oracle, name=f"{name} fuzz")
    finally:
        con.close()


@pytest.mark.parametrize("name", ["qr30_arg_extrema", "qr72_winsorized_stats"])
@given(rows=cents_values)
@settings(
    max_examples=max(8, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_numeric_match_oracle(spark, tmp_path_factory, rows, name):
    tmp = tmp_path_factory.mktemp("nfuzz")
    _check_numeric(spark, tmp, rows, name)


# --- sub-second timestamp render fuzz (the reference's wire format) --------

# deliberately include the trimming edges: exact millis, hanging micros,
# all-zeros, all-nines — Go's .999 layout trims trailing zeros
# (reference main.go:179) and both engines must agree after the trim
_EDGE_MICROS = (0, 1, 999, 1_000, 10_000, 500_000, 900_000, 999_000, 999_999, 123_456)

micro_offsets = st.lists(
    st.one_of(
        st.sampled_from(_EDGE_MICROS),
        st.integers(min_value=0, max_value=3_599_999_999),  # µs within an hour
    ),
    min_size=1,
    max_size=25,
)


@given(offsets=micro_offsets)
@settings(
    max_examples=max(10, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ts_render_fuzz_subsecond(spark, tmp_path_factory, offsets):
    """qv04's millisecond render + Go-style trailing-zero trim must agree
    across engines for arbitrary MICROsecond timestamps — the fixture only
    exercises whatever sub-second distribution the generator happened to
    produce."""
    d = str(tmp_path_factory.mktemp("tsfuzz"))
    n = len(offsets)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [_TS_BASE + off for off in offsets], pa.timestamp("us")
                ),
                "user_id": pa.array([0] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([0.0] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    spec = registry()["qv04_ts_render"]
    df = spec.spark(spark, d)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(d, 'events.parquet')}')"
        )
        assert_matches_oracle(df, con, spec.oracle, name="qv04 fuzz")
    finally:
        con.close()


# --- JSON payload extraction fuzz ------------------------------------------

import json as _json

# props JSON: the probed key "k" may be absent, an int, an int-ish
# string, a non-numeric string, nested, or null; extra keys and unicode
# stress the parser the same way arbitrary producer payloads would
_k_value = st.one_of(
    st.none(),
    st.integers(min_value=-10**6, max_value=10**6),
    st.integers(min_value=-99, max_value=99).map(str),
    st.sampled_from(
        ("x", "", "12abc", "naïve – 測試", "1.5", "2.7", " 12 ", "+7", "-0",
         "99999999999999999999")
    ),
    st.lists(st.integers(min_value=0, max_value=3), max_size=2),
)
props_strategy = st.lists(
    st.fixed_dictionaries(
        {},
        optional={
            "k": _k_value,
            "other": st.sampled_from(("a", "ü", '"quoted"')),
        },
    ),
    min_size=1,
    max_size=25,
)


@given(dicts=props_strategy)
@settings(
    max_examples=max(10, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_json_extract_fuzz(spark, tmp_path_factory, dicts):
    """qv06's $.k extraction + int cast must agree across engines for
    absent keys, wrong-typed values, nested values, and unicode payloads
    — the schema-less producer reality the reference accepts (any
    json.Marshal-able map)."""
    d = str(tmp_path_factory.mktemp("jsonfuzz"))
    n = len(dicts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([_TS_BASE] * n, pa.timestamp("us")),
                "user_id": pa.array([0] * n, pa.int64()),
                "event_type": pa.array(["view"] * n, pa.string()),
                "value": pa.array([0.0] * n, pa.float64()),
                "props": pa.array(
                    [_json.dumps(x, ensure_ascii=False) for x in dicts], pa.string()
                ),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    spec = registry()["qv06_json_extract"]
    df = spec.spark(spark, d)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(d, 'events.parquet')}')"
        )
        assert_matches_oracle(df, con, spec.oracle, name="qv06 fuzz")
    finally:
        con.close()


# --- typed-payload parse fuzz (qv02 / qv07) --------------------------------

_raw_props = st.one_of(
    # SQL NULL props — must land in n_parse_fail on BOTH engines (the
    # round-5 ADVICE latent divergence; coalesce'd in the qv02 twin)
    st.none(),
    # malformed and non-object JSON — the validity-count edges
    st.sampled_from(
        ("not json", "", "[1, 2]", "12", "null", "{", '{"k": }', "true")
    ),
    # well-formed objects with k of every JSON type
    st.fixed_dictionaries(
        {},
        optional={
            "k": st.one_of(
                st.none(),
                st.integers(min_value=-(2**40), max_value=2**40),  # incl. int32 overflow
                st.floats(allow_nan=False, allow_infinity=False, width=32),
                st.integers(min_value=-99, max_value=99).map(str),
                st.booleans(),
                st.lists(st.integers(min_value=0, max_value=3), max_size=2),
            ),
            "noise": st.sampled_from(("a", "ü")),
        },
    ).map(lambda d: _json.dumps(d, ensure_ascii=False)),
)


@pytest.mark.parametrize("name", ["qv02_payload_parse", "qv07_json_typed_parse"])
@given(props=st.lists(_raw_props, min_size=1, max_size=25))
@settings(
    max_examples=max(10, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_typed_parse_fuzz(spark, tmp_path_factory, props, name):
    """qv02/qv07's parse-validity counts and typed-k aggregates must agree
    across engines for malformed JSON, non-object JSON, and k values of
    every JSON type — the schema-less producer reality."""
    d = str(tmp_path_factory.mktemp("pfuzz"))
    n = len(props)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([_TS_BASE] * n, pa.timestamp("us")),
                "user_id": pa.array([0] * n, pa.int64()),
                "event_type": pa.array(
                    [("view", "click")[i % 2] for i in range(n)], pa.string()
                ),
                "value": pa.array([0.0] * n, pa.float64()),
                "props": pa.array(props, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    spec = registry()[name]
    df = spec.spark(spark, d)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(d, 'events.parquet')}')"
        )
        assert_matches_oracle(df, con, spec.oracle, name=f"{name} fuzz")
    finally:
        con.close()


# --- round-6: ROUND tie-class retirement (FIXTURES.md §3) --------------------
#
# Spark rounds a double's SHORTEST DECIMAL REPR half-up; DuckDB rounds the
# EXACT binary value. Ratios of small integers land on repr-ties for real
# (3/20000 prints "0.00015" but its binary value sits below the midpoint),
# so every similarity/ratio score now goes through the scaled-integer
# read-back (functions/rounding.py). These tests pin the mechanism: the OLD
# `ROUND(x, 4)` formulation must diverge on a crafted ratio table, and the
# NEW formulation must agree on the same table.

# (a, b) pairs whose a/b shortest repr carries a bare tie digit while the
# binary value sits below the midpoint — found by scanning with the two
# rounding models; verified against the real engines below
_TIE_PAIRS = [(3, 20000), (7, 20000), (57, 2000), (1141, 8000), (3, 16)]


def _ratio_table(spark, pairs):
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "id long, a long, b long"
    )


def test_round_tie_old_formulation_diverges(spark):
    """Sanity check that the retired mechanism is REAL: plain ROUND(a/b, 4)
    disagrees between Spark and DuckDB on at least one tie pair (if this
    ever starts passing on all pairs, the engines changed their rounding
    and FIXTURES.md §3 needs a re-probe)."""
    import pyspark.sql.functions as F

    df = _ratio_table(spark, _TIE_PAIRS).select(
        "id", F.round(F.col("a") / F.col("b"), 4).alias("r")
    )
    s = {r["id"]: r["r"] for r in df.collect()}
    con = duckdb.connect()
    try:
        rows = con.sql(
            "SELECT * FROM (VALUES "
            + ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_TIE_PAIRS))
            + ") t(id, a, b)"
        ).fetchall()
        d = {
            i: con.sql(f"SELECT round({a}::DOUBLE / {b}, 4)").fetchone()[0]
            for i, a, b in rows
        }
    finally:
        con.close()
    diverged = [i for i in s if s[i] != d[i]]
    assert diverged, (
        "expected >=1 cross-engine divergence from raw ROUND on tie ratios; "
        f"spark={s} duck={d}"
    )


def test_round_tie_scaled_formulation_agrees(spark):
    """The replacement (CAST(ROUND(x*1e4) AS BIGINT)/1e4 on both engines)
    must agree bit-for-bit on the same adversarial ratios — and on a dense
    sweep of small-denominator ratios around them."""
    import pyspark.sql.functions as F

    from streamsurfer_spark.functions.rounding import scaled_round, scaled_round_sql

    pairs = list(_TIE_PAIRS) + [
        (a, b) for b in (8, 200, 2000, 20000) for a in range(1, 40)
    ]
    df = _ratio_table(spark, pairs).select(
        "id", scaled_round(F.col("a") / F.col("b")).alias("r")
    )
    s = {r["id"]: r["r"] for r in df.collect()}
    con = duckdb.connect()
    try:
        expr = scaled_round_sql("a * 1.0 / b")
        d = dict(
            con.sql(
                "SELECT id, " + expr + " FROM (VALUES "
                + ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(pairs))
                + ") t(id, a, b)"
            ).fetchall()
        )
    finally:
        con.close()
    mism = {i: (s[i], d[i]) for i in s if s[i] != d[i]}
    assert not mism, f"scaled_round diverged cross-engine: {mism}"


def test_jaccard_pairs_survive_tie_ratio(spark, tmp_path_factory):
    """End-to-end: the FULL ql09 pipeline (hashed shingles → inverted
    index → Jaccard with the scaled round) on a crafted corpus must
    hash-match its DuckDB twin via the exact gate compare — the PIPELINE
    carries the tie-proof discipline, not just the unit expression. The
    corpus includes a pair above the 0.4 threshold (5 shared of 7 union
    shingles, J = 5/7) and near-threshold pairs, plus every emitted
    score must sit on the 1e-4 grid."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g z"),
        (3, "a b c d e x y z"),
        (4, "p q r s t u v w"),
        (5, "p q r s m n o k"),
    ]
    d = str(tmp_path_factory.mktemp("jacfuzz"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs], pa.string()),
                "lang": pa.array(["en"] * len(docs), pa.string()),
                "source": pa.array(["src0"] * len(docs), pa.string()),
                "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    spec = registry()["ql09_ngram_jaccard"]
    df = spec.spark(spark, d)
    rows = df.collect()
    assert len(rows) >= 1  # the J=5/7 pair clears the 0.4 cut
    for r in rows:
        assert r["jaccard"] == round(r["jaccard"] * 10000) / 10000.0
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(d, 'documents.parquet')}')"
        )
        assert_matches_oracle(df, con, spec.oracle, name="ql09 crafted corpus")
    finally:
        con.close()


@given(
    xs=st.lists(
        st.one_of(
            st.floats(min_value=-2.0, max_value=2.0, allow_nan=False),
            # adversarial band: values within a few ulp of 4-dp midpoints,
            # where fractional ROUND diverged and integer-scale must not
            st.integers(min_value=-20000, max_value=20000).map(
                lambda k: k / 10000.0 + 5e-5
            ),
            st.integers(min_value=-20000, max_value=20000).map(
                lambda k: (k / 10000.0 + 5e-5) * (1 - 2.22e-16)
            ),
            st.integers(min_value=-20000, max_value=20000).map(
                lambda k: (k / 10000.0 + 5e-5) * (1 + 2.22e-16)
            ),
            # non-finite class (r7 ADVICE): without the isfinite guard,
            # CAST(NaN AS BIGINT) aborts under Spark ANSI / raises
            # ConversionException in DuckDB; the guard must null these
            # out identically on both engines.
            st.sampled_from([float("nan"), float("inf"), float("-inf")]),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(
    max_examples=max(15, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scaled_round_agrees_on_arbitrary_doubles(spark, xs):
    """scaled_round must agree cross-engine for ARBITRARY doubles, not
    just small-int ratios — including values sitting within an ulp of a
    4-dp midpoint on either side. This is the claim that integer-scale
    rounding has no tie class at all."""
    from streamsurfer_spark.functions.rounding import scaled_round, scaled_round_sql

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], "id long, x double"
    ).select("id", scaled_round(F.col("x")).alias("r"))
    s = {r["id"]: r["r"] for r in df.collect()}
    con = duckdb.connect()
    try:
        expr = scaled_round_sql("x")
        # literals must be QUOTED: an unquoted 17-digit numeric parses as
        # DECIMAL(21,20) first, and DuckDB's decimal→DOUBLE cast can land
        # one ulp off the correctly-rounded double (found by this fuzz:
        # 0.00015000000000000001 → …3261 instead of …3262, flipping the
        # product across 1.5). String→DOUBLE is correctly rounded, so the
        # quoted form feeds bit-identical inputs — as parquet does in the
        # real gate.
        d = dict(
            con.sql(
                "SELECT id, " + expr + " FROM (VALUES "
                + ", ".join(
                    f"({i}, '{float(x)!r}'::DOUBLE)" for i, x in enumerate(xs)
                )
                + ") t(id, x)"
            ).fetchall()
        )
    finally:
        con.close()
    mism = {i: (s[i], d[i], xs[i]) for i in s if s[i] != d[i]}
    assert not mism, f"scaled_round diverged on arbitrary doubles: {mism}"


# --- r8-continuation fuzz: wide-span events on an exact half-hour grid -----
#
# The original event_rows strategy spans 120 seconds — dense event_id/ts
# collisions, but no multi-day structure and no session-gap boundaries.
# This strategy puts every timestamp on an EXACT k·30min grid across ~6
# days: adjacent offsets differing by one grid step are EXACTLY the qt19/
# qs03 session gap (the boundary class the planted tests pinned — here the
# generator hits it constantly), and the span covers enough days to give
# qt18's CUSUM, qt20's rolling windows, and qt21's frames real structure.

event_rows_wide = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # user_id
        st.integers(min_value=0, max_value=300),      # half-hours offset
        st.sampled_from(EVENT_TYPES),                 # event_type
    ),
    min_size=2,
    max_size=40,
)


def _write_events_wide(rows, path: str) -> None:
    n = len(rows)
    t = pa.table(
        {
            "event_id": pa.array(list(range(n)), pa.int64()),
            "ts": pa.array(
                [_TS_BASE + hh * 1800 * 1_000_000 for _, hh, _ in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _, _ in rows], pa.int64()),
            "event_type": pa.array([e for _, _, e in rows], pa.string()),
            "value": pa.array([float(i % 7) + 0.25 for i in range(n)], pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(t, os.path.join(path, "events.parquet"))
    # tiny customer dim for the stream-static join (qs06): users 0..2
    # present, user 3 deliberately ABSENT so the inner-join miss path
    # fires; segments collide (two users share BUILDING) so the grouped
    # output exercises both 1- and 2-key groups
    cust = pa.table(
        {
            "c_custkey": pa.array([0, 1, 2], pa.int64()),
            "c_mktsegment": pa.array(
                ["BUILDING", "MACHINERY", "BUILDING"], pa.string()
            ),
        }
    )
    pq.write_table(cust, os.path.join(path, "customer.parquet"))


@pytest.mark.parametrize(
    "name",
    [
        "qt16_psi_drift",            # half-split + bin edges on tiny domains
        "qt17_linear_attribution",   # touch at exactly purchase ts excluded
        "qt18_cusum_changepoint",    # tie-heavy |c| argmax across days
        "qt19_session_window_native",  # gap == 30min EXACTLY: merge rule
        "qt20_rolling_actives",      # window membership at day edges
        "qt21_rolling_median",       # even/odd frame widths, value ties
        "qs17_stream_heavy_hitters",  # rank ties at equal counts
        # (qs18 moved to the reduced-example real-stream twin below)
        # boundary-sensitive EXISTING entries: the generator lands gaps on
        # exactly the 4h session gap (8 grid steps) and watermark ends on
        # window ends — direct generated-data evidence for the fixed
        # qs03/qs08 boundary rule and the qs16 emission rule (qs08/qs16
        # themselves run as real streams → the reduced-example twin)
        "qs03_session_window",
        "qt15_scd2_user_state",
        "qt22_seasonal_backtest",    # calendar gaps through the day-aligned join
        # older boundary-sensitive rows the half-hour grid can hit exactly:
        # qt02's ±6h bound (12 grid steps), qt09's 1h staleness cap (2
        # steps), qt10's ±1h tolerance, qs04's watermark landing exactly on
        # window ends, qs09's chained-window finalization, qt04's gap days
        "qt02_range_join_errors",
        "qt04_gapfill_daily",
        "qt09_time_weighted_avg",
        "qt10_nearest_error",
        "qs04_watermarked_append",
        # (qs09 moved to the reduced-example real-stream twin below)
        # r9: the remaining fuzz-starved streaming oracles (r8 verdict
        # item 7). Both are REAL foreachBatch runs keyed latest-wins on
        # (ts DESC, event_id DESC): the half-hour grid lands exact ts
        # TIES constantly (the tie-break class), and the event_id % 3
        # slicing interleaves those ties across micro-batches — the
        # out-of-order/replay paths their batching-invariance argument
        # rests on
        "qs13_foreachbatch_upsert",
        "qs14_stream_cdc_apply",
        # r10: the remaining fixture-only streaming oracles (r9 verdict
        # item 4) — each is a REAL availableNow run, so the generated
        # grids drive the streaming machinery itself, not a batch twin:
        # qs01 complete-mode ingest counts (empty-type classes, ts ties);
        # qs02/qs02b batch twins of the tumbling/sliding transforms —
        #   every grid ts can land EXACTLY on a 6h/12h bucket edge (the
        #   [start, end) ownership rule both engines must share);
        # qs06 stream-static broadcast join — user 3 has NO dim row
        #   (inner-join miss) and two users share a segment;
        # qs07 update-mode incremental agg over 3 real micro-batches —
        #   generated event sets make whole slices empty (event_id % 3
        #   classes vanish), the n_updates-per-key edge;
        # qs10 stream-stream interval join — the grid lands pairs at
        #   EXACTLY ±6h (12 steps): both inclusive bounds on both engines;
        # qs11 applyInPandasWithState tracker — ts ties hit the
        #   (ts DESC, event_id DESC) last-event tie-break in state;
        # qs12 temporal dim join — derived-dim tiers on tiny user
        #   domains, exact-cent sums (grid values are quarters)
        "qs01_stream_ingest_counts",
        "qs02_tumbling_window",
        "qs02b_sliding_window",
        "qs06_stream_static_join",
        "qs07_update_mode",
        "qs10_interval_join",
        "qs11_stateful_tracker",
        "qs12_stream_temporal_dim",
        # r11 continuation (fixture-only retirement): the hourly
        # resample + exact-int interpolation (grid ts land EXACTLY on
        # hour edges — the bucket-ownership and gap-interpolation
        # boundary class) and EWMA smoothing (exact binary-power
        # weights over generated per-user series with ts ties)
        "qt06_resample_interpolate",
        "qt07_ewma_smoothing",
    ],
)
@given(rows=event_rows_wide)
@settings(
    max_examples=max(6, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_wide_events_match_oracle(spark, tmp_path_factory, rows, name):
    _check_wide(spark, tmp_path_factory, rows, name)


def _check_wide(spark, tmp_path_factory, rows, name):
    tmp = str(tmp_path_factory.mktemp("fuzzw"))
    _write_events_wide(rows, tmp)
    spec = registry()[name]
    df = spec.spark(spark, tmp)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(tmp, 'events.parquet')}')"
        )
        con.execute(
            "CREATE VIEW customer AS SELECT * FROM read_parquet("
            f"'{os.path.join(tmp, 'customer.parquet')}')"
        )
        assert_matches_oracle(df, con, spec.oracle, name=f"{name} wide-fuzz")
    finally:
        con.close()


# REAL-STREAM rows, reduced DEFAULT examples (r11 verdict item 6): each
# example here runs a full availableNow stream — checkpoint dir, 3 real
# micro-batches, and (qs15's family twin below) a deliberate replay —
# so one example costs 7-10 s of stream machinery before any data-shape
# value lands. The r12 durations profile put 58% of suite wall in this
# file and ~1/3 of THAT in the seven real-stream rows at 6 examples
# each. Class coverage is unchanged — every entry still runs generated-
# frame differential fuzz each suite pass — and example DEPTH stays the
# deep-hunt knob's job (SPARK_GRAFT_FUZZ_EXAMPLES overrides upward,
# exactly as before).
_STREAM_HEAVY_EXAMPLES = max(
    3, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))
)


@pytest.mark.parametrize(
    "name",
    [
        # boundary rationale lives with the main wide-events list: qs08
        # (exactly-at-gap sessions), qs09 (chained-window finalization),
        # qs16 (outer-join emission rule), qs18 (zero-bin smoothing)
        "qs08_stream_sessions",
        "qs09_chained_windows",
        "qs16_stream_outer_join",
        "qs18_stream_psi_monitor",
    ],
)
@given(rows=event_rows_wide)
@settings(
    max_examples=_STREAM_HEAVY_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_wide_events_match_oracle_stream(
    spark, tmp_path_factory, rows, name
):
    _check_wide(spark, tmp_path_factory, rows, name)


# --- r8-continuation fuzz: generated documents and embeddings ---------------
#
# Tiny-vocab documents force exact duplicates, shared shingles, and
# near-identical SimHash signatures (the collision paths); empty texts
# exercise ql63's no-entropy-row NULL route and the gopher expressions on
# "". Embeddings from an exact-representable value set include ZERO
# vectors (ql61's NULL-micro route) and can collapse to one label (ql62's
# NULL-b route).

_VOCAB = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta")

doc_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                  # source idx
        st.integers(min_value=0, max_value=2),                  # lang idx
        st.lists(st.integers(min_value=0, max_value=5), max_size=8),  # token ids
    ),
    min_size=1,
    max_size=25,
)


def _write_docs(rows, path: str) -> None:
    texts = [" ".join(_VOCAB[t] for t in toks) for _, _, toks in rows]
    t = pa.table(
        {
            "doc_id": pa.array(list(range(len(rows))), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([("en", "fr", "zh")[l] for _, l, _ in rows], pa.string()),
            "source": pa.array([f"src{s}" for s, _, _ in rows], pa.string()),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(path, "documents.parquet"))


@pytest.mark.parametrize(
    "name",
    [
        "ql63_entropy_threshold_sweep",  # empty text → NULL entropy → fails every tau
        "ql64_cluster_aware_split",      # duplicate texts → dense near-dup clusters
        "ql65_source_overlap_matrix",    # tiny vocab → heavy cross-source overlap
        "ql66_source_minhash_jaccard",   # merged sketches on colliding shingles
        "qp10_retention_waterfall",      # all stages incl. "" through gopher exprs
        "ql67_langid_quality",           # unseen-language margins on tiny corpora
        "ql55_gopher_rules",             # gopher exact-int thresholds on ""
        "ql59_robust_outliers",          # MAD on tiny/tied groups
        # tie-heavy text families on the 6-word vocab: top-term ordering
        # ties, tf-idf ties, repetition ratios on repeated tokens, and the
        # micro-nat surprisal fold on tiny tied counts
        "ql04_text_stats",
        "ql05_top_terms",
        "ql13_fingerprint",
        "ql22_tfidf_top_terms",
        "ql31_repetition_metrics",
        "ql36_unigram_surprisal",
        # r9: the exact-co-moment z-score (pandas ints vs DECIMAL twin,
        # rewritten after the qr26 Welford-drift find) — tiny tied
        # n_chars groups land variance numerators of exactly 0
        "ql19_grouped_map_zscore",
        # r9: micro-nat geo mean (same class, UDAF surface) and the
        # curation capstone whose avg_quality moved to the exact q4 sum
        "ql18_udaf_geo_mean",
        "qp01_curation_report",
        # r11: the remaining document-side capstones (r10 verdict item 3 —
        # "their stages are fuzzed, the compositions are not"). Each is a
        # multi-family composition, so the tiny-vocab corpus drives the
        # stage BOUNDARIES: exact-dup groups collapsing before the DSIR
        # gate (qp07/qp07b), empty texts through the gopher/entropy/MAD
        # triple gate (qp09), duplicated spans + tied quality scores in
        # the per-source rollup (qp04), the curate→decontaminate→split
        # composition where whole sources vanish (qp05), and all three
        # dedup signal families feeding one CC collapse (qp08)
        "qp04_quality_dashboard",
        "qp05_export_manifest",
        "qp07_training_mix",
        "qp07b_training_mix_manifest",
        "qp08_canonical_map",
        "qp09_intake_gate",
        # r11: closing the r7 fixture-only tail — exact dedup on forced
        # duplicate texts (empty-vs-empty counts as a dup group), and the
        # two deterministic hash samplers (membership on tiny corpora
        # where whole strata are empty or singletons)
        "ql01_exact_dedup",
        "ql16_hash_sample",
        "ql17_stratified_sample",
        # r11 continuation: the REST of the fixture-only class, retired
        # registry-wide. Tiny-vocab duplicate texts force real LSH band
        # collisions (ql02) and identical SimHash signatures (ql08);
        # empty/one-token texts hit the truncated-shingle and
        # zero-denominator edges of language-ID margins (ql12), BM25
        # length normalization (ql32), DSIR bucket models (ql46), and
        # the perplexity tertile rank boundaries on tied surprisals
        # (ql47); ql20's UDTF tokenizer sees empty token lists; ql50's
        # snapshot anti-join gets whole-source-vanishes cases; ql07's
        # modality envelope hashes empty payloads
        "ql02_minhash_lsh_pairs",
        "ql07_multimodal_envelope",
        "ql08_simhash",
        "ql12_language_id",
        "ql20_udtf_tokenize",
        "ql32_bm25_topk",
        "ql46_dsir_importance",
        "ql47_perplexity_buckets",
        "ql50_snapshot_novelty",
        # (qs15_stream_lsh_dedup — the streaming LSH dedup, r9 verdict
        # item 4's last fixture-only streaming oracle — runs in the
        # reduced-example real-stream twin below: it streams DOCUMENTS
        # with a deliberate batch-1 replay per example)
    ],
)
@given(rows=doc_rows)
@settings(
    max_examples=max(6, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_docs_match_oracle(spark, tmp_path_factory, rows, name):
    _check_docs(spark, tmp_path_factory, rows, name)


def _check_docs(spark, tmp_path_factory, rows, name):
    tmp = str(tmp_path_factory.mktemp("fuzzd"))
    _write_docs(rows, tmp)
    spec = registry()[name]
    df = spec.spark(spark, tmp)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(tmp, 'documents.parquet')}')"
        )
        assert_matches_oracle(df, con, spec.oracle, name=f"{name} doc-fuzz")
    finally:
        con.close()


@pytest.mark.parametrize("name", ["qs15_stream_lsh_dedup"])
@given(rows=doc_rows)
@settings(
    max_examples=_STREAM_HEAVY_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_docs_match_oracle_stream(
    spark, tmp_path_factory, rows, name
):
    """qs15 streams documents through a REAL availableNow run with a
    deliberate batch-1 replay per example (tiny vocab → constant
    band-bucket collisions; doc_id % 3 slices go empty → empty
    micro-batches) — see _STREAM_HEAVY_EXAMPLES for the reduced
    default."""
    _check_docs(spark, tmp_path_factory, rows, name)


emb_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # label
        st.lists(
            st.sampled_from((-1.0, -0.5, 0.0, 0.5, 1.0)), min_size=4, max_size=4
        ),
    ),
    min_size=1,
    max_size=25,
)


def _write_embs(rows, path: str) -> None:
    t = pa.table(
        {
            "vec_id": pa.array(list(range(len(rows))), pa.int64()),
            "embedding": pa.array(
                [v for _, v in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([l for l, _ in rows], pa.int32()),
        }
    )
    pq.write_table(t, os.path.join(path, "embeddings.parquet"))
    # ql42's BM25 leg reads documents — symlink the fixture table so the
    # hybrid-fusion entry runs against generated embeddings (the vector
    # leg is the fuzz target; the lexical leg stays fixture-stable)
    from tests.conftest import SF_DIR

    src = os.path.join(SF_DIR, "documents.parquet")
    dst = os.path.join(path, "documents.parquet")
    if os.path.exists(src) and not os.path.exists(dst):
        os.symlink(src, dst)


@pytest.mark.parametrize(
    "name",
    [
        "ql61_matryoshka_energy",
        "ql62_label_silhouette",
        "ql03_cosine_topk",        # dense cosine ties from the exact value set
        "ql15_label_centroids",    # centroid means on tiny/tied labels
        "ql28_quantization_error", # int8 recon error on exact values
        "ql57_embedding_corr",     # top-variance pick with variance ties
        # r9: the rest of the vector family, after the zero-norm class
        # (try_divide + NULL-sim exclusion) landed — the generated pool's
        # zero vectors now exercise that path in every one of these
        # ql10 is EXCLUDED by contract, not oversight: lsh_buckets
        # loud-fails on dim != 64 (the plane matrix is 64-d), and the
        # generated pool is 4-d — the guard firing IS the verified
        # behavior (pinned in test_llm_ops)
        "ql14_ivf_topk",
        "ql21_cosine_near_dup",
        "ql23_dedup_clusters",
        "ql42_hybrid_rrf",
        "ql43_ann_recall",
        "ql51_hard_negatives",
        "qp06_semdedup_report",
        # r11: the embedding-side capstones (r10 verdict item 3). The
        # exact-value pool with zero vectors and duplicate vectors drives
        # the build compositions end-to-end: qp02's budgeted-centroid IVF
        # occupancy report (argmin ties at equal distance, single-centroid
        # degenerate corpora) and qp03's kmeans→residual→PQ pipeline
        # (4-dim vectors make 7 of the 8 PQ subspaces empty — the
        # remainder-slice rule — and duplicate vectors collapse codes)
        "qp02_vector_index_report",
        "qp03_ivfpq_build_report",
        # r11 continuation (fixture-only retirement): the codegen
        # higher-order array pack — zero vectors and duplicate vectors
        # hit the element_at/aggregate/exists edges the fixture's dense
        # random values never pin
        "qr17_array_fns",
    ],
)
@given(rows=emb_rows)
@settings(
    max_examples=max(6, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_embeddings_match_oracle(spark, tmp_path_factory, rows, name):
    tmp = str(tmp_path_factory.mktemp("fuzze"))
    _write_embs(rows, tmp)
    spec = registry()[name]
    df = spec.spark(spark, tmp)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
            f"'{os.path.join(tmp, 'embeddings.parquet')}')"
        )
        doc_p = os.path.join(tmp, "documents.parquet")
        if os.path.exists(doc_p):  # ql42's fixture-stable BM25 leg
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{doc_p}')"
            )
        assert_matches_oracle(df, con, spec.oracle, name=f"{name} emb-fuzz")
    finally:
        con.close()


# --- r11: envelope-family fuzz (r10 verdict item 3) --------------------------
#
# qv01/qv03/qv05/qv08 last saw generated frames in r5, before the
# rounding discipline and before the wire-format entries existed; qv09/
# qv10 never did. The strategy generates the producer reality the
# reference accepts (any json.Marshal-able event): NULL required fields
# (event_type AND user_id — the _validated partition both engines must
# cut identically), event names with JSON-special characters (quotes,
# backslashes, \t/\n, \u00XX control chars, raw UTF-8 — Spark's to_json
# escapes these; the oracle's to_json() twin must match byte-for-byte),
# exact-cent values (the money discipline), and sub-second timestamps
# hitting the Go trailing-zero-trim edges (qv09/qv10's distinct-count
# rides the qv04 render). event_id stays UNIQUE per frame — it is the
# envelope wire-order key (qv08 sorts the batch array on it; a duplicate
# key would make both engines' tie order unspecified by contract).

_ETYPE_ALPHABET = (
    'view', 'click', 'a"b', 'a\\b', 'naïve – 測試', 'a\tb', 'a\nb', '',
    'x<y>&z', '\x01ctl\x1f', 'sp ace', "it's", None,
)

envelope_rows = st.lists(
    st.tuples(
        st.sampled_from(_ETYPE_ALPHABET),               # event_type (or NULL)
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),  # user_id
        st.integers(min_value=-500, max_value=500),     # value in cents
        st.one_of(
            st.sampled_from(_EDGE_MICROS),
            st.integers(min_value=0, max_value=3_599_999_999),
        ),                                              # µs offset
    ),
    min_size=1,
    max_size=25,
)


def _write_envelope_events(rows, path: str) -> None:
    n = len(rows)
    t = pa.table(
        {
            "event_id": pa.array(list(range(n)), pa.int64()),
            "ts": pa.array(
                [_TS_BASE + off for _, _, _, off in rows], pa.timestamp("us")
            ),
            "user_id": pa.array([u for _, u, _, _ in rows], pa.int64()),
            "event_type": pa.array([e for e, _, _, _ in rows], pa.string()),
            "value": pa.array([c / 100.0 for _, _, c, _ in rows], pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(t, os.path.join(path, "events.parquet"))


@pytest.mark.parametrize(
    "name",
    [
        "qv01_validate_required",   # NULL partition counted identically
        "qv03_origin_stamp",        # validated grouping + origin column
        "qv05_envelope_json",       # per-event JSON escape parity
        "qv08_batch_wire_format",   # batch-array render + byte length
        # (qv09/qv10 — the two wire LOOPS through the real client seam —
        # run in the reduced-example twin below: each example pays a
        # spool → per-record consume pass)
    ],
)
@given(rows=envelope_rows)
@settings(
    max_examples=max(6, int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_envelope_match_oracle(spark, tmp_path_factory, rows, name):
    _check_envelope(spark, tmp_path_factory, rows, name)


def _check_envelope(spark, tmp_path_factory, rows, name):
    tmp = str(tmp_path_factory.mktemp("fuzzv"))
    _write_envelope_events(rows, tmp)
    spec = registry()[name]
    df = spec.spark(spark, tmp)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(tmp, 'events.parquet')}')"
        )
        assert_matches_oracle(df, con, spec.oracle, name=f"{name} env-fuzz")
    finally:
        con.close()


@pytest.mark.parametrize(
    "name",
    [
        # the two wire LOOPS (sink spool → consume → aggregate): each
        # example spools through the REAL client seam (PutRecord for
        # qv09, PutRecords for qv10) and reads back via spool_items —
        # adversarial event names must survive
        # serialize→chunk→record→parse losslessly
        "qv09_consume_roundtrip",
        "qv10_put_records_roundtrip",
    ],
)
@given(rows=envelope_rows)
@settings(
    max_examples=_STREAM_HEAVY_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_generated_envelope_match_oracle_stream(
    spark, tmp_path_factory, rows, name
):
    _check_envelope(spark, tmp_path_factory, rows, name)
