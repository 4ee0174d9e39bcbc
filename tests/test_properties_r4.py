"""Round-4 hardening tests: hot-block cap for exact cosine pairs,
hash-scattered codebook init, PQ remainder-dim fold, epoch-plan overflow
safety, and half-up cent rounding in the stateful tracker."""

from __future__ import annotations

import math

import pandas as pd
import pyspark.sql.functions as F
import pytest


def _vec(seed: int, dim: int = 8) -> list[float]:
    """Deterministic unit-ish vector without RNG state."""
    return [math.sin(seed * 1.7 + d) for d in range(dim)]


def test_cosine_block_cap_bounds_pair_blowup(spark):
    """One dominant block key must NOT go quadratic: with block_cap=c the
    pair count is bounded by c·(c-1)/2 and the survivors are the c smallest
    ids (deterministic overflow policy, same as the LSH bucket cap)."""
    from streamsurfer_spark.operators import similarity

    n = 40
    # one mega-block of byte-identical vectors plus a small clean block
    rows = [(i, "hot", _vec(7)) for i in range(n)]
    rows += [(1000 + i, "cold", _vec(100 + i)) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")

    cap = 8
    pairs = similarity.cosine_near_dup_pairs(df, 0.99, block_cap=cap).collect()
    hot = [p for p in pairs if p.id_a < 1000 and p.id_b < 1000]
    assert 0 < len(hot) <= cap * (cap - 1) // 2
    assert all(p.id_a < cap and p.id_b < cap for p in hot)

    # a cap above the block size finds the full quadratic set, values intact
    full = similarity.cosine_near_dup_pairs(df, 0.99, block_cap=256)
    assert full.where("id_a < 1000 and id_b < 1000").count() == n * (n - 1) // 2


def test_cosine_block_cap_plan_prunes_before_exchange(spark):
    """The cap must be a WindowGroupLimit that runs BEFORE the shuffle —
    otherwise a hot block still materializes on one reducer."""
    from streamsurfer_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, "a", _vec(i)) for i in range(10)],
        "vec_id long, label string, embedding array<double>",
    )
    plan = similarity.cosine_near_dup_pairs(df, 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_seed_rows_scatter_beats_homogeneous_head(spark):
    """seed_rows must pick ids spread across the id space, not the head:
    on an id-sorted corpus whose first k rows are identical (sorted ingest,
    one domain first) the old first-k init yields k identical centroids —
    the scatter init must not."""
    from streamsurfer_spark.operators import clustering

    k = clustering.KMEANS_K
    dim = 8
    # head: k identical vectors; tail: genuinely varied
    rows = [(i, [1.0] * dim) for i in range(k)]
    rows += [(k + i, _vec(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    q = clustering.quantize(df, "embedding").select("vec_id", "qv")
    seeds = clustering.seed_rows(q, k).collect()
    seed_ids = sorted(r.vec_id for r in seeds)
    assert seed_ids != list(range(k)), "seeds degenerate to the head ids"
    distinct_seed_vecs = {tuple(r.qv) for r in seeds}
    assert len(distinct_seed_vecs) > 1, "all seed centroids identical"

    # end-to-end: Lloyd on the homogeneous-head corpus yields >1 cluster
    report = clustering.kmeans_report(df).collect()
    assert len(report) > 1


def test_seed_rows_matches_duckdb_twin(spark, duck):
    """The Spark seed selection and the oracle's ORDER BY/LIMIT twin must
    choose the SAME rows — the whole point of the RNG-free scatter."""
    from streamsurfer_spark.operators import clustering

    rows = [(i * 13 + 5, _vec(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        r.vec_id
        for r in clustering.seed_rows(df.select("vec_id", F.col("embedding").alias("qv")), 8).collect()
    )
    ids = [r[0] for r in rows]
    want = sorted(
        duck.execute(
            f"SELECT id FROM (SELECT unnest({ids}) AS id) "
            f"ORDER BY (id * {clustering.SEED_SCATTER}) % 4294967296, id LIMIT 8"
        ).df()["id"]
    )
    assert got == [int(x) for x in want]


def test_pq_remainder_dims_kept(spark):
    """A dimension not divisible by m must fold the remainder dims into the
    LAST subspace — not silently drop them from codes and recon_sse."""
    from streamsurfer_spark.operators import clustering

    m, k = 4, 2
    dim = 10  # 4 subspaces of 2 dims + remainder 2 → last subspace gets 4
    base = [0.0] * dim
    # codebook = the 2 smallest-scatter ids among {0, 13, 10, 11} = {0, 13}
    # (scatter order 0 < 13 < 10/11); the probe vectors 10/11 differ from
    # BOTH codebook entries ONLY in the final (remainder) dimensions, so
    # plain floor-slicing would report sse == 0
    rows = [(0, base), (13, [x + 100.0 for x in base])]
    rows += [(10, base[: dim - 2] + [5.0, 5.0]), (11, base[: dim - 2] + [7.0, 7.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = clustering.quantize(df, "embedding").select("vec_id", "qv")
    out = {r.vec_id: r for r in clustering.pq_encode_quantized(q, m=m, k=k).collect()}

    # every code has m digits and the remainder-dim difference is scored
    assert all(len(r.pq_code.split(",")) == m for r in out.values())
    assert out[10].recon_sse > 0 and out[11].recon_sse > 0


def test_epoch_plan_exact_beyond_int64(spark):
    """budget × s6 beyond int64 must stay exact (DECIMAL path), not wrap:
    with a huge budget multiplier the per-domain targets must still sum to
    ≤ budget and match an exact-integer Python recomputation."""
    from streamsurfer_spark.operators import sampling

    rows = [(i, "web" if i % 3 else "code", "tok " * (5 + i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    # exact recomputation in unbounded Python ints
    toks = {}
    for i, src, text in rows:
        toks.setdefault(src, []).append(len(text.split(" ")))
    n_tokens = {s: sum(v) for s, v in toks.items()}
    total = sum(n_tokens.values())
    s6 = {s: round(math.sqrt(n) * 1_000_000) for s, n in n_tokens.items()}
    sum_s6 = sum(s6.values())

    # num=1e12: budget*s6 ≈ 1e22 >> 2^63 (the SECOND multiply must be
    # decimal). num=3e16: ALSO total*num ≈ 1.4e19 > 2^63 — the FIRST
    # multiply in raw BIGINT wrapped silently before the r7 fix (budget
    # ≈ 7.2e18 still fits the BIGINT output column).
    for num in (10**12, 3 * 10**16):
        plan = {
            r.source: r
            for r in sampling.epoch_plan(
                df, "source", "doc_id", budget_num=num, budget_den=2
            ).collect()
        }
        budget = (total * num) // 2
        for s, r in plan.items():
            want = (budget * s6[s]) // sum_s6
            assert r.target_tokens == want, (num, s, r.target_tokens, want)
            assert r.target_tokens > 0  # int64 wraparound would go negative


def test_tracker_cents_half_away_from_zero():
    """0.025·100 == 2.5 exactly in IEEE; pandas .round() gives 2 (half to
    even) but F.round / DuckDB give 3 — the tracker must match the latter,
    with the sign mirrored for negatives."""
    from streamsurfer_spark.streaming.stateful import _cents_half_up

    assert _cents_half_up(pd.Series([0.025])) == 3
    assert _cents_half_up(pd.Series([-0.025])) == -3
    assert _cents_half_up(pd.Series([0.015])) == 2  # 1.5 → 2 either way
    assert _cents_half_up(pd.Series([1.23, 0.025, -0.025])) == 123


def test_probe_budget_constant():
    """The probe count for sampled-probe search/eval (ql14, ql43) must be
    bounded by a CONSTANT regardless of corpus size — an uncapped
    fraction-of-corpus probe set makes exact-ground-truth work quadratic.
    Below the budget the modulus is the fixture base (oracle hashes never
    move); above it, doubling keeps probes ≤ PROBE_BUDGET and the capped
    probe ids a subset of the base probe ids."""
    from streamsurfer_spark.operators.similarity import PROBE_BUDGET, probe_modulus

    base = 97
    # fixture regimes: sf0.01 (500 vecs) and sf0.1 (2000 vecs) → unchanged
    assert probe_modulus(500, base) == base
    assert probe_modulus(2000, base) == base
    for n in (10**5, 10**7, 10**9, 10**12):
        mod = probe_modulus(n, base)
        assert n // mod <= PROBE_BUDGET
        assert mod % base == 0  # capped probes ⊂ base probes
        assert probe_modulus(n, mod) == mod  # idempotent


def _span_coverage_py(docs: list[tuple[int, str]], n: int = 3) -> dict[int, tuple[int, int]]:
    """Python brute-force twin of duplicate_span_coverage: same hashed
    shingle composition (md5 → P31 token hashes, positional P61 sum), df≥2
    filter, then DISTINCT covered positions per doc. Returns
    doc_id → (n_tokens, covered_tokens)."""
    from streamsurfer_spark.functions.hashing import P31, md5_long64_py
    from streamsurfer_spark.operators.dedup import P61, SHINGLE_C1, SHINGLE_C2

    def shingle_hashes(toks):
        th = [md5_long64_py(t) % P31 for t in toks]
        out = []
        for i in range(max(len(th) - (n - 1), 1)):
            h1 = th[i] if i < len(th) else 0
            h2 = th[i + 1] if i + 1 < len(th) else 0
            h3 = th[i + 2] if i + 2 < len(th) else 0
            out.append((h1 * SHINGLE_C1) % P61 + (h2 * SHINGLE_C2) % P61 + h3)
        return out

    occ = {}  # shingle → set of docs
    per_doc = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        hs = shingle_hashes(toks)
        per_doc[doc_id] = (toks, hs)
        for h in hs:
            occ.setdefault(h, set()).add(doc_id)
    dup = {h for h, d in occ.items() if len(d) >= 2}
    result = {}
    for doc_id, (toks, hs) in per_doc.items():
        covered = set()
        for pos, h in enumerate(hs):
            if h in dup:
                covered.update(range(pos, min(pos + n, len(toks))))
        if covered:
            result[doc_id] = (len(toks), len(covered))
    return result


def test_span_coverage_matches_bruteforce_random(spark):
    """Randomized check of the interval-union rewrite: Spark's
    covered_tokens must equal the brute-force distinct-position count for
    corpora with overlapping, adjacent, and isolated duplicate spans."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    boiler = "the quick brown fox jumps over"
    docs = []
    for d in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 25))]
        # plant boilerplate at a random position in half the docs —
        # guarantees shared spans with varied overlap patterns
        if d % 2 == 0:
            at = rng.randint(0, len(words))
            words[at:at] = boiler.split(" ")
        docs.append((d, " ".join(words)))

    from streamsurfer_spark.operators.dedup import duplicate_span_coverage

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.covered_tokens)
        for r in duplicate_span_coverage(df).collect()
    }
    want = _span_coverage_py(docs)
    assert got == want


def test_asof_nearest_matches_bruteforce_random(spark):
    """Randomized check of the union-sort nearest join against the obvious
    per-left argmin over all right rows within tolerance."""
    import datetime as dt
    import random

    rng = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    lefts = [
        (i, rng.randint(0, 3), base + dt.timedelta(seconds=rng.randint(0, 5000)))
        for i in range(60)
    ]
    rights = {}
    for j in range(80):
        key = (rng.randint(0, 3), base + dt.timedelta(seconds=rng.randint(0, 5000)))
        rid = 1000 + j
        # dedup per (key, ts): keep the SMALLEST id, the documented contract
        if key not in rights or rid < rights[key]:
            rights[key] = rid
    right_rows = [(k, ts, rid) for (k, ts), rid in rights.items()]

    tol = 600
    from streamsurfer_spark.operators.asof import asof_nearest

    left_df = spark.createDataFrame(lefts, "lid long, k long, lt timestamp")
    right_df = spark.createDataFrame(right_rows, "k long, rt timestamp, rid long")
    got = {
        r.lid: (r.rid, r.direction, r.diff_us)
        for r in asof_nearest(
            left_df, right_df, "k", "lt", "rt", ["rid"], tolerance_seconds=tol
        ).collect()
    }

    for lid, k, lt in lefts:
        best = None
        for (rk, rt), rid in rights.items():
            if rk != k:
                continue
            diff = abs((lt - rt).total_seconds())
            if diff > tol:
                continue
            dir_rank = 0 if rt <= lt else 1
            cand = (diff, dir_rank, rt, rid)
            if best is None or cand < best:
                best = cand
        if best is None:
            assert got[lid] == (None, None, None), lid
        else:
            diff, dir_rank, rt, rid = best
            assert got[lid] == (
                rid,
                "prev" if dir_rank == 0 else "next",
                int(diff * 1_000_000),
            ), lid


def test_verify_window_follows_rotation_policy():
    """The driver's correctness gate evaluates the FIRST ~50 registry
    entries. Standing rotation policy (r6 verdict items 1+2, generalized
    in r8): the window must contain (a) the ENTIRE oldest-gate-evidence
    band — every entry whose latest CORRECTNESS_r* row is the minimum
    across the registry (brand-new entries count as round +inf until
    their first gate row lands) — and (b) every query whose Spark path
    or oracle string changed this round, plus the round's new entries. A
    registry edit that breaks either half silently forfeits independent
    verification."""
    from streamsurfer_spark.queries import registry

    from streamsurfer_spark.queries import _VERIFY_FIRST

    names = list(registry())
    window = set(names[:50])

    # a typo in _VERIFY_FIRST is silently skipped by registry(), quietly
    # reshaping the window — every prefix name must resolve
    unknown = [n for n in _VERIFY_FIRST if n not in names]
    assert not unknown, f"_VERIFY_FIRST names not in registry: {unknown}"

    changed_this_round = {
        # round 14 (queries/__init__.py header):
        # qp07/qp07b — the staged checkpointed capstone (r13 verdict
        # item 1); ql65/ql66 — source-shingle chain evaluated once
        # (r13 ADVICE); ql42 — HOF dot/norm at the small-row call site
        # (r13 verdict item 4); ql36/ql46 — carry/materialize hooks on
        # unigram_surprisal / dsir_importance
        "qp07_training_mix",
        "qp07b_training_mix_manifest",
        "ql65_source_overlap_matrix",
        "ql66_source_minhash_jaccard",
        "ql42_hybrid_rrf",
        "ql36_unigram_surprisal",
        "ql46_dsir_importance",
        # ql03/ql43 + ql51/ql52 — cosine_topk's dot/norm switched to the
        # HOF forms (the r13 unroll measured slower at the query level in
        # the BNLJ projection; ql43's r13-creep attribution)
        "ql03_cosine_topk",
        "ql43_ann_recall",
        "ql51_hard_negatives",
        "ql52_multimodal_ann",
        # plus the 10 r13-touched entries the r13 driver window never
        # oracle-gated (r13 verdict item 2) — windowed this round so the
        # INDEPENDENT driver artifact finally covers them
        "ql23_dedup_clusters",
        "ql34_cluster_representatives",
        "qs15_stream_lsh_dedup",
        "qp10_retention_waterfall",
        "qp04_quality_dashboard",
        "qp05_export_manifest",
        "ql50_snapshot_novelty",
        "qp03_ivfpq_build_report",
        "ql02_minhash_lsh_pairs",
        "ql10_lsh_ann_pairs",
    }
    # round-14 deferrals: NONE.
    deferred: tuple = ()

    # the r14 head: the seven r14-engine-touched entries
    assert names[0] == "qp07_training_mix"
    assert names[1] == "qp07b_training_mix_manifest"
    assert names[2] == "ql65_source_overlap_matrix"
    missing = changed_this_round - window - set(deferred)
    assert not missing, f"round-changed queries outside the gate window: {missing}"

    # rotation debt: entries whose latest driver gate row is the OLDEST
    # round present, recomputed from every CORRECTNESS artifact on disk
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # FROZEN to rounds 1..13: the artifacts that existed when the r14
    # window was designed. Globbing ALL rounds would make this test flip
    # the moment the CURRENT round's artifact lands (the window entries
    # get gate row 14, the next band becomes the oldest, missing_stale
    # fires) — the r15 session updates both the window and this freeze
    # together.
    rounds = {}
    paths = [
        p
        for n in (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13)
        for p in glob.glob(os.path.join(root, f"CORRECTNESS_r{n:02d}.json"))
    ]
    if not paths:
        return  # artifacts absent (fresh clone) — policy unverifiable
    for path in paths:
        n = int(path.rsplit("_r", 1)[1].split(".")[0])
        for k in json.load(open(path)):
            rounds[k] = max(n, rounds.get(k, 0))
    oldest = min(rounds.values())
    stale = {k for k, v in rounds.items() if v == oldest and k in names}

    # the WHOLE oldest band must fit in the window this round — the
    # verdict's "no gate row older than <oldest+1>" done-bar. r14 window
    # math: oldest = r9 (the 15-entry remainder), all in-window — this
    # assert IS the r13 rotation's mechanical promise firing
    missing_stale = stale - window - set(deferred)
    assert not missing_stale, f"oldest-band entries outside the window: {missing_stale}"

    # the next band (r10, 48 entries) does NOT fit whole alongside the
    # r9 remainder + the changed/never-gated entries; the 16 slots
    # left go to the band's HEAD in registry order (ql10/ql23/ql42/
    # qp03/qp04 are r10-latest but already windowed above); the
    # 25-entry r10 remainder is promised whole at the r15 head (it
    # becomes the oldest band the moment CORRECTNESS_r14 lands, so the
    # missing_stale assert above enforces the promise mechanically
    # next round)
    fill_r10 = {
        "ql18_udaf_geo_mean", "ql19_grouped_map_zscore",
        "ql21_cosine_near_dup", "ql38_kmeans_clusters",
        "ql51_hard_negatives", "ql52_multimodal_ann",
        "ql62_label_silhouette", "qr01_scan_checksum", "qr02_filter_agg",
        "qr03_join_orders_customer", "qr04_multiway_join",
        "qr05_anti_join", "qr05_left_join_histogram", "qr05_semi_join",
        "qr07_count_distinct", "qr08_approx_count_distinct",
    }
    assert fill_r10 <= window, (
        f"r10-band fill outside the window: {fill_r10 - window}"
    )
    next_band = {k for k, v in rounds.items() if v == oldest + 1 and k in names}
    assert fill_r10 <= next_band, (
        "fill entries must come from the r10 band: "
        f"{fill_r10 - next_band} are not r10-latest"
    )

    # entries that have NEVER had a gate row (and are not rows-only
    # by design) must not linger: after r9 every registry entry has at
    # least one gate row, so this set must stay empty unless the round
    # adds new entries (which would lead the window)
    never_gated = {n for n in names if n not in rounds}
    allowed_ungated: set = set()
    assert never_gated <= window | allowed_ungated, (
        f"never-gated entries outside the window: {never_gated - window}"
    )
