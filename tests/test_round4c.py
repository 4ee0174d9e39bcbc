"""Randomized brute-force oracles for the round-4 third-wave operators:
exact-int PageRank, ordered funnel, seasonal outlier counts."""

from __future__ import annotations

import datetime as dt
import random

import pyspark.sql.functions as F


def _pagerank_py(edges: list[tuple[int, int]], iters: int, damp: int) -> dict:
    """Pure-Python twin of operators/graph.py pagerank — unbounded ints,
    same truncating integer division, same iteration structure."""
    sym = set()
    for a, b in edges:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    deg: dict[int, int] = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    rank = {v: 1_000_000 for v in deg}
    base = (100 - damp) * 1_000_000 // 100
    for _ in range(iters):
        contrib: dict[int, int] = {}
        for a, b in sym:
            contrib[b] = contrib.get(b, 0) + rank[a] // deg[a]
        rank = {v: base + (damp * contrib.get(v, 0)) // 100 for v in deg}
    return {v: (deg[v], rank[v]) for v in deg}


def test_bench_and_probe_names_resolve():
    """Every name in bench.py's BENCH_QUERIES and scale_probe's PROBES
    must exist in the registry — a typo voids the driver's whole bench
    record (BENCH_r02 died to a single broken query)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import BENCH_QUERIES
    from tools.scale_probe import PROBES
    from streamsurfer_spark.queries import registry

    reg = registry()
    missing = [n for n in (*BENCH_QUERIES, *PROBES) if n not in reg]
    assert not missing, f"unknown query names: {missing}"


def test_training_mix_stage_populations_nest(spark):
    """qp07's defining property: every stage's survivors are a subset of
    the previous stage's (checked on the fixture at test SF)."""
    import pyspark.sql.functions as F

    from streamsurfer_spark.operators import text as text_ops
    from streamsurfer_spark.session import table
    from tests.conftest import SF_DIR

    docs = table(spark, SF_DIR, "documents")
    kept = docs.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    base = docs.join(kept.select("doc_id"), "doc_id")
    ds = text_ops.dsir_importance(base).where("logratio_micro > 0")
    n_docs = docs.count()
    n_kept = base.count()
    n_ds = ds.count()
    assert n_docs >= n_kept >= n_ds > 0


def test_pagerank_matches_bruteforce_random(spark):
    """Random graphs (chains, stars, cliques mixed in): Spark's exact-int
    PageRank must be bit-identical to the unbounded-int Python twin."""
    from streamsurfer_spark.operators import graph

    rng = random.Random(7)
    edges = set()
    for _ in range(60):
        a, b = rng.randint(0, 24), rng.randint(0, 24)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: (r.deg, r.rank_micro) for r in graph.pagerank(df).collect()}
    want = _pagerank_py(edges, graph.PAGERANK_ITERS, graph.PAGERANK_DAMP_PCT)
    assert got == want


def test_funnel_matches_bruteforce_random(spark):
    """Random event streams: the chained keyed aggregation must agree with
    the obvious per-user scan for every stage."""
    rng = random.Random(13)
    types = ["view", "click", "purchase", "error"]
    rows = []
    for u in range(30):
        for _ in range(rng.randint(0, 12)):
            rows.append(
                (u, rng.choice(types), dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randint(0, 500)))
            )
    # brute force: sort each user's events, walk the stages in order
    want = {1: set(), 2: set(), 3: set()}
    by_user: dict[int, list] = {}
    for u, t, ts in rows:
        by_user.setdefault(u, []).append((ts, t))
    for u, evs in by_user.items():
        evs.sort()
        t1 = min((ts for ts, t in evs if t == "view"), default=None)
        if t1 is None:
            continue
        want[1].add(u)
        t2 = min((ts for ts, t in evs if t == "click" and ts > t1), default=None)
        if t2 is None:
            continue
        want[2].add(u)
        t3 = min((ts for ts, t in evs if t == "purchase" and ts > t2), default=None)
        if t3 is not None:
            want[3].add(u)

    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    s1 = ev.where("event_type = 'view'").groupBy("user_id").agg(F.min("ts").alias("t1"))
    s2 = (
        ev.where("event_type = 'click'")
        .join(s1, "user_id")
        .where("ts > t1")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where("event_type = 'purchase'")
        .join(s2, "user_id")
        .where("ts > t2")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    assert {r.user_id for r in s1.collect()} == want[1]
    assert {r.user_id for r in s2.collect()} == want[2]
    assert {r.user_id for r in s3.collect()} == want[3]


def test_containment_matches_bruteforce_random(spark):
    """Random small corpora with planted substrings: the inverted-index
    containment scores must equal the brute-force distinct-shingle set
    computation, including the contained-side pick."""
    from streamsurfer_spark.operators.dedup import ngram_containment_pairs

    rng = random.Random(21)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    for d in range(20):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 15))]
        docs.append((d, " ".join(words)))
    # plant full embeddings: doc 100 is a verbatim substring of doc 101
    core = "alpha beta gamma delta epsilon zeta"
    docs.append((100, core))
    docs.append((101, "x1 x2 " + core + " y1 y2"))

    def shingles(text):
        toks = text.split(" ")
        if len(toks) <= 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    want = {}
    for (ia, ta) in docs:
        for (ib, tb) in docs:
            if ia >= ib:
                continue
            sa, sb = shingles(ta), shingles(tb)
            inter = len(sa & sb)
            if inter == 0:
                continue
            cab = round(inter / len(sa), 4)
            cba = round(inter / len(sb), 4)
            if max(cab, cba) >= 0.8:
                want[(ia, ib)] = (inter, cab, cba, ia if cab >= cba else ib)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.n_inter, r.cont_a_in_b, r.cont_b_in_a, r.contained_id)
        for r in ngram_containment_pairs(df, threshold=0.8).collect()
    }
    assert got == want
    assert (100, 101) in got and got[(100, 101)][3] == 100  # planted case found


def test_canonical_map_chains_across_signal_types(spark):
    """qp08's point: a duplicate chain that crosses SIGNAL types (A
    byte-equal B, B near-dup C via shared shingles, C contains D... here:
    exact + containment) must still collapse to ONE canonical id — any
    single signal alone would leave the chain split."""
    from streamsurfer_spark.operators import dedup, graph

    core = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, core),                           # canonical
        (2, core),                           # exact copy of 1
        (3, "x1 x2 " + core + " y1 y2"),     # contains 2's text (and 1's)
        (50, "unrelated words only here now completely"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text"))
    exact_e = (
        df.select("doc_id", F.min("doc_id").over(w).alias("mn"))
        .where("doc_id <> mn")
        .select(F.col("doc_id").alias("src"), F.col("mn").alias("dst"))
    )
    cont_e = dedup.ngram_containment_pairs(df, threshold=0.8).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = exact_e.unionByName(cont_e)
    cc = {r.id: r.cluster_id for r in graph.connected_components(edges, "src", "dst").collect()}
    assert cc.get(1) == 1 and cc.get(2) == 1 and cc.get(3) == 1
    assert 50 not in cc  # no edges → not in the map


def test_cdc_merge_is_batching_invariant(spark):
    """qs14's core claim: the tombstone-retaining (ts, event_id)-max merge
    yields the same state no matter how the change stream is sliced into
    batches."""
    import datetime as dt
    import random

    rng = random.Random(5)
    schema = "user_id long, event_id long, op string, cents long, ts timestamp"
    changes = [
        (
            rng.randint(1, 6),
            i,
            "D" if rng.random() < 0.3 else "U",
            rng.randint(0, 500),
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randint(0, 100)),
        )
        for i in range(40)
    ]

    def merge(cur, batch):
        payload = ["event_id", "op", "cents", "ts"]
        return (
            cur.unionByName(batch)
            .groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct(*payload), F.struct(F.col("ts"), F.col("event_id"))
                ).alias("_l")
            )
            .select("user_id", "_l.*")
        )

    def run(slices):
        state = spark.createDataFrame([], schema)
        for s in slices:
            if s:
                state = merge(state, spark.createDataFrame(s, schema))
        return sorted(map(tuple, state.collect()))

    one_shot = run([changes])
    by_parity = run([[c for c in changes if c[1] % 2 == p] for p in (0, 1)])
    reversed_thirds = run(
        [[c for c in changes if c[1] % 3 == p] for p in (2, 0, 1)]
    )
    assert one_shot == by_parity == reversed_thirds


def test_cohort_retention_matches_bruteforce_random(spark):
    """Random (user, day) activity: the cohort/offset counts must equal a
    per-user Python walk — including users active in non-consecutive
    weeks (offset gaps) and single-week users (offset 0 only)."""
    import datetime as dt

    rng = random.Random(31)
    rows = []
    for u in range(40):
        for _ in range(rng.randint(1, 8)):
            rows.append(
                (u, dt.datetime(2024, 1, 1) + dt.timedelta(days=rng.randint(0, 70)))
            )
    want: dict[tuple, set] = {}
    first = {}
    for u, ts in rows:
        w = (ts.date() - dt.date(2024, 1, 1)).days // 7
        first[u] = min(first.get(u, w), w)
    for u, ts in rows:
        w = (ts.date() - dt.date(2024, 1, 1)).days // 7
        want.setdefault((first[u], w - first[u]), set()).add(u)
    expect = {k: len(v) for k, v in want.items()}

    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    wk = F.expr("datediff(to_date(ts), DATE'2024-01-01') div 7")
    fst = ev.select("user_id", wk.alias("w")).groupBy("user_id").agg(
        F.min("w").alias("cohort_week")
    )
    active = ev.select("user_id", wk.alias("active_week")).distinct()
    got = {
        (r.cohort_week, r.week_offset): r.n_active
        for r in active.join(fst, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("active_week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .collect()
    }
    assert got == expect


def test_vocab_diagnostics_match_bruteforce_random(spark):
    """Random corpora: type/token/hapax counts and the (tf, token)-max top
    token must equal the Python Counter computation."""
    from collections import Counter

    from streamsurfer_spark.operators import text as text_ops

    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(15)]
    docs = []
    for d in range(25):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 30))]
        docs.append((d, " ".join(words), f"s{d % 3}"))

    want = {}
    per_src: dict[str, Counter] = {}
    for _d, text, src in docs:
        per_src.setdefault(src, Counter()).update(text.split(" "))
    for src, c in per_src.items():
        top = max(c.items(), key=lambda kv: (kv[1], kv[0]))
        want[src] = (sum(c.values()), len(c), sum(1 for v in c.values() if v == 1), top[0], top[1])

    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    tf = (
        df.select("source", F.explode(text_ops.tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("tf"))
    )
    got = {
        r.source: (r.n_tokens, r.n_types, r.n_hapax, r.top_token, r.top_tf)
        for r in tf.groupBy("source")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum((F.col("tf") == 1).cast("long")).alias("n_hapax"),
            F.max_by(F.col("token"), F.struct(F.col("tf"), F.col("token"))).alias(
                "top_token"
            ),
            F.max("tf").alias("top_tf"),
        )
        .collect()
    }
    assert got == want


def test_seasonal_outliers_match_bruteforce_random(spark):
    """Random cent values per bucket: the DECIMAL-squared inequality must
    flag exactly the values |x - mean| > 2*sigma (computed in exact
    rational arithmetic via the same integer identity in Python)."""
    rng = random.Random(99)
    rows = []
    for et in ("a", "b"):
        for h in (0, 1):
            n = rng.randint(3, 40)
            for _ in range(n):
                # mixture: mostly small, occasionally huge → real outliers
                v = rng.randint(0, 100) if rng.random() < 0.9 else rng.randint(5000, 9000)
                rows.append((et, h, v))

    want: dict[tuple, int] = {}
    from collections import defaultdict

    groups = defaultdict(list)
    for et, h, v in rows:
        groups[(et, h)].append(v)
    for key, xs in groups.items():
        n, s, ss = len(xs), sum(xs), sum(x * x for x in xs)
        want[key] = sum(1 for x in xs if (n * x - s) ** 2 > 4 * (n * ss - s * s))

    df = spark.createDataFrame(rows, "event_type string, hod int, cents long")
    prof = df.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("s"),
        F.sum(F.expr("cents * cents")).alias("ss"),
    )
    lhs = F.expr(
        "(cast(n_events as decimal(38,0)) * cents - cast(s as decimal(38,0)))"
        " * (cast(n_events as decimal(38,0)) * cents - cast(s as decimal(38,0)))"
    )
    rhs = F.expr(
        "4 * (cast(n_events as decimal(38,0)) * cast(ss as decimal(38,0))"
        " - cast(s as decimal(38,0)) * cast(s as decimal(38,0)))"
    )
    got = {
        (r.event_type, r.hod): r.n_out
        for r in df.join(F.broadcast(prof), ["event_type", "hod"])
        .groupBy("event_type", "hod")
        .agg(F.sum((lhs > rhs).cast("long")).alias("n_out"))
        .collect()
    }
    assert got == want
