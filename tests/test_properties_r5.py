"""Round-5 hardening tests: the lsh_near_pairs bucket cap (the last
uncapped quadratic in the dedup/ANN family), the plane-DIM loud-failure
guard, twin-side cap replication, the qt12 empty-funnel coalesce, and the
reclaimed scratch-dir lifecycle."""

from __future__ import annotations

import math
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest


def _vec(seed: int, dim: int = 64) -> list[float]:
    """Deterministic 64-d vector (the plane DIM) without RNG state."""
    return [math.sin(seed * 1.7 + d) for d in range(dim)]


def test_lsh_near_pairs_bucket_cap_bounds_blowup(spark):
    """One mega-bucket (n near-identical vectors hash to the same LSH
    bucket) must NOT go quadratic: with bucket_cap=c the within-bucket
    pair count is bounded by c·(c-1)/2 and the survivors are the c
    smallest ids (deterministic overflow policy, same as LSH_BUCKET_CAP
    and COSINE_BLOCK_CAP)."""
    from streamsurfer_spark.operators import similarity

    n = 40
    # identical vectors → identical bucket AND cosine 1.0 ≥ any threshold
    rows = [(i, _vec(7)) for i in range(n)]
    # plus a few scattered vectors in other buckets
    rows += [(1000 + i, _vec(100 + 13 * i)) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cap = 8
    pairs = similarity.lsh_near_pairs(df, threshold=0.99, bucket_cap=cap).collect()
    hot = [p for p in pairs if p.id_a < 1000 and p.id_b < 1000]
    assert 0 < len(hot) <= cap * (cap - 1) // 2
    assert all(p.id_a < cap and p.id_b < cap for p in hot), (
        "overflow policy must keep the cap smallest ids"
    )

    # a cap above the bucket size finds the full quadratic set — values intact
    full = similarity.lsh_near_pairs(df, threshold=0.99, bucket_cap=256)
    assert full.where("id_a < 1000 and id_b < 1000").count() == n * (n - 1) // 2


def test_lsh_near_pairs_plan_prunes_before_exchange(spark):
    """The cap must be a WindowGroupLimit that runs BEFORE the shuffle —
    otherwise a hot bucket still materializes on one reducer. Requires
    LSH_ANN_BUCKET_CAP ≤ spark.sql.optimizer.windowGroupLimitThreshold."""
    from streamsurfer_spark.operators import similarity

    assert similarity.LSH_ANN_BUCKET_CAP <= int(
        spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
    )
    df = spark.createDataFrame(
        [(i, _vec(i)) for i in range(10)], "vec_id long, embedding array<double>"
    )
    plan = (
        similarity.lsh_near_pairs(df, 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_lsh_buckets_dim_mismatch_raises(spark):
    """A corpus whose embedding width differs from the plane DIM must fail
    loudly (raise_error per row), not hash on a silent zip_with truncation
    — the 768-d-production-model foot-gun."""
    from streamsurfer_spark.operators import similarity

    ok = spark.createDataFrame(
        [(1, _vec(3))], "vec_id long, embedding array<double>"
    )
    assert similarity.lsh_buckets(ok).count() == 1

    bad = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="plane DIM"):
        similarity.lsh_buckets(bad).collect()


def test_ql10_twin_caps_like_spark(spark, duck):
    """The DuckDB twin must replicate LSH_ANN_BUCKET_CAP so a bucket
    crossing the cap cannot silently split the engines: shrink the cap on
    BOTH sides to force it to bind and compare exactly."""
    import duckdb

    from streamsurfer_spark.operators import similarity
    from streamsurfer_spark.queries.llm_q import _ql10_sql
    from tests.conftest import SF_DIR, assert_matches_oracle

    cap = 3  # far below the fixture max bucket (9 at sf0.001)
    emb_path = os.path.join(SF_DIR, "embeddings.parquet")
    emb = spark.read.parquet(emb_path)
    df = similarity.lsh_near_pairs(emb, threshold=0.8, bucket_cap=cap).orderBy(
        "id_a", "id_b"
    )
    sql = _ql10_sql().replace(f"<= {similarity.LSH_ANN_BUCKET_CAP}", f"<= {cap}")
    assert sql != _ql10_sql(), "twin no longer parameterizes the cap"
    assert_matches_oracle(df, duck, sql, name="ql10 capped twin")


def test_qt12_funnel_empty_stage_coalesces(spark, tmp_path):
    """A fixture where NO user completes the funnel must yield
    total_latency_us = 0 (not NULL) on both engines — the ADVICE-flagged
    latent hash mismatch."""
    import duckdb

    from streamsurfer_spark.queries.timeseries_q import QT12_SQL, qt12_funnel
    from tests.conftest import SF_DIR, assert_matches_oracle

    sub = str(tmp_path / "no_purchases")
    os.makedirs(sub)
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    ev.where(F.col("event_type") != "purchase").write.parquet(
        os.path.join(sub, "events.parquet")
    )

    df = qt12_funnel(spark, sub)
    rows = {r.stage: r for r in df.collect()}
    assert rows["3_purchase"].n_users == 0
    assert rows["3_purchase"].total_latency_us == 0, "sum over no rows must coalesce to 0"

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sub, 'events.parquet')}/*.parquet')"
    )
    assert_matches_oracle(df, con, QT12_SQL, name="qt12 empty funnel")
    con.close()


def test_scratch_dir_reclaimed_at_exit():
    """scratch_dir dirs must disappear when the owning process exits —
    the unbounded-/tmp-accumulation fix. Run a child process that writes a
    scratch dir and prints its path; after it exits the dir must be gone."""
    code = (
        "from streamsurfer_spark.scratch import scratch_dir\n"
        "import os\n"
        "d = scratch_dir('r5_test_')\n"
        "open(os.path.join(d, 'x'), 'w').write('x')\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    path = out.stdout.strip().splitlines()[-1]
    assert "streamsurfer_scratch_" in path
    assert not os.path.exists(path), "scratch dir survived process exit"


def test_scratch_dir_unique_within_process():
    """Lazy plans must never collide: two scratch dirs in one process are
    distinct, both under the same per-process root."""
    from streamsurfer_spark.scratch import scratch_dir

    a, b = scratch_dir("r5_"), scratch_dir("r5_")
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b)
    assert f"streamsurfer_scratch_{os.getpid()}" in a


def test_lsh_planes_scale_with_corpus():
    """The pair path's bucket space must grow with the corpus (E[bucket]
    ~ LSH_TARGET_BUCKET_DOCS) while every fixture scale keeps the
    historical 8 planes so oracle hashes never move."""
    from streamsurfer_spark.operators import similarity

    # fixture scales: sf0.001/0.01 have 500 vectors, sf0.1 has 2000
    for n in (0, 1, 500, 2000, 2048):
        assert similarity.lsh_planes_for(n) == similarity.N_PLANES
    assert similarity.lsh_planes_for(20_000) == 12  # the 10x probe point
    # monotone, and capped so the plane expression stays bounded
    prev = 0
    for n in (10**4, 10**6, 10**8, 10**10, 10**12):
        r = similarity.lsh_planes_for(n)
        assert r >= prev
        prev = r
    assert prev == similarity.LSH_MAX_PLANES


def test_lsh_added_planes_refine_buckets(spark):
    """Widening the plane count must REFINE buckets, not reshuffle them:
    two vectors sharing a 12-plane bucket must share the 8-plane bucket
    (plane p's weights depend only on p). This is what makes the adaptive
    bucket space a pure work-splitter — no candidate pair found at r
    planes is introduced at r' < r planes."""
    import math

    from streamsurfer_spark.operators import similarity

    rows = [(i, [math.sin(i * 1.7 + d) for d in range(64)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b8 = {r.vec_id: r.bucket for r in similarity.lsh_buckets(df, n_planes=8).collect()}
    b12 = {r.vec_id: r.bucket for r in similarity.lsh_buckets(df, n_planes=12).collect()}
    for vid, b in b12.items():
        assert b % 256 == b8[vid], "low 8 plane bits changed when widening"
