"""10× scale probe: replicate the sf0.1 fixtures with shifted keys and
measure how the headline plans scale (BASELINE.md §"Round-3 scale probe").

Usage:  python tools/scale_probe.py [replicas]  (default 10)

Replication keeps every join/window key consistent (order/customer/user
ids shifted per replica) and suffixes document tokens per replica so the
dedup corpus isn't 10 identical copies. Output goes to /tmp/sfprobe —
outside the repo, regenerated on every run.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBES = (
    "qr06_hash_agg_q1",
    "qr04_multiway_join",
    "qt03_sessionize",
    "ql01_exact_dedup",
    "ql02_minhash_lsh_pairs",
    "ql36_unigram_surprisal",
    "qt09_time_weighted_avg",
    "ql40_epoch_plan",
    # round-4 additions: the multi-pass capstones and retrieval fusion
    # (embeddings are replicated with per-replica perturbation below so
    # the vector corpus actually grows instead of stacking exact copies)
    "qp03_ivfpq_build_report",
    "qp04_quality_dashboard",
    "ql42_hybrid_rrf",
    "ql34_cluster_representatives",
    "ql43_ann_recall",
    "qt10_nearest_error",
    # round-4 third wave: one-pass DSIR scoring, the SemDeDup composition,
    # and the cross-snapshot shingle-novelty anti-join
    "ql46_dsir_importance",
    "qp06_semdedup_report",
    "ql50_snapshot_novelty",
    "qp07_training_mix",
    "qp08_canonical_map",
    "ql54_containment_pairs",
    "qt14_transition_matrix",
    # round-5 additions: the RH-LSH pair path (now bucket-capped — this row
    # is where an uncapped bucket would show as super-linear wall-clock),
    # the REAL streaming runs whose state size is the thing to measure,
    # and the manifest-checkpoint contrast row for qp07
    "ql10_lsh_ann_pairs",
    "qs13_foreachbatch_upsert",
    "qs14_stream_cdc_apply",
    "qp07b_training_mix_manifest",
    # round-6 addition: the incremental LSH dedup stream after the
    # checkpoint-cadence rework (one eager bands checkpoint per batch,
    # index-only state pinning, lazy decisions)
    "qs15_stream_lsh_dedup",
    # round-7 additions: the full produce→consume wire loops through both
    # sink APIs (PutRecord vs PutRecords, both read back by the
    # spool_items JVM scan). Constructing these specs is EFFECTFUL — the spool write (a
    # foreachPartition job over the replicated events table) happens
    # inside spec.spark(), so the probe row measures the WHOLE loop:
    # envelope + chunking + spool + unbatch + parse + aggregate.
    "qv09_consume_roundtrip",
    "qv10_put_records_roundtrip",
    # round-8 additions: the SCD2 dimension build (hot-key window profile)
    # and the embedding-dimension correlation diagnostic (the pair pass
    # must stay a 28-row broadcast crossJoin as the corpus grows)
    "qt15_scd2_user_state",
    "ql57_embedding_corr",
    # the char-entropy explode: growth must track documents linearly
    # (map-side combine caps the exchange at |alphabet| rows per doc)
    "ql58_char_entropy",
    # SimHash pigeonhole pairs: the replicated corpus makes every band
    # value 10×/30× hotter — the SIMHAM_BAND_CAP must hold the candidate
    # join sub-quadratic exactly like the MinHash/cosine caps
    "ql60_simhash_hamming",
    # r8-continuation additions: the waterfall capstone (per-signal corpus
    # scans + the ql60 pair stage over survivors), the attribution range
    # join (per-user bounded fan-out), the silhouette pass (must stay
    # corpus-linear — the centroid frame is a one-row broadcast), and the
    # PSI drift monitor (two grouped passes). ql61/qs17 are deliberately
    # NOT probed: ql61 is map-only + a |labels|·|dims|-group aggregate
    # (the ql56/ql59 no-seam class) and qs17's state is the bounded
    # |windows|·|types| standings (micro-batch fixed costs dominate, the
    # qs01 class).
    "qp10_retention_waterfall",
    "qt17_linear_attribution",
    "ql62_label_silhouette",
    "qt16_psi_drift",
    # the cluster-aware split (ql60 pairs + star-contraction CC + hash
    # assignment — CC over a denser replicated near-dup graph is the
    # thing to watch) and the rolling-actives fan-out (28× map-side rows
    # into a 3-way distinct Expand)
    "ql64_cluster_aware_split",
    "qt20_rolling_actives",
    # cross-source containment: the shingle self-join's per-key fan-out
    # is bounded by |sources| — growth must track distinct source-level
    # shingles linearly (qt21 is the constant-frame qt04 class, no probe)
    "ql65_source_overlap_matrix",
)

# allow probing a subset: python tools/scale_probe.py [replicas] [name...]
# --no-gen reuses an existing /tmp/sfprobe corpus: the fresh-session-per-probe
# protocol (BASELINE.md round-10 batch 2) runs one python process per probe,
# and regenerating the 1000× corpus (~11 min) per invocation would dominate.



def generate(src: str, dst: str, replicas: int) -> None:
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    # stream the replicated COPYs: with order preservation on (the
    # default) DuckDB MATERIALIZES the whole cross join before writing —
    # at 1000× that is 600M lineitem rows (~50+ GB RSS, single-core)
    # and OOMs the host. Row order inside the probe files is
    # meaningless, so let the COPY stream and parallelize.
    con.execute("SET preserve_insertion_order=false")
    # bound DuckDB's own buffering well under the host limit
    con.execute("SET memory_limit='24GB'")
    for t in ("lineitem", "orders", "customer", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
    ok = con.sql("SELECT max(l_orderkey)+1 FROM lineitem").fetchone()[0]
    ck = con.sql("SELECT max(c_custkey)+1 FROM customer").fetchone()[0]
    uk = con.sql("SELECT max(user_id)+1 FROM events").fetchone()[0]
    dk = con.sql("SELECT max(doc_id)+1 FROM documents").fetchone()[0]
    ek = con.sql("SELECT max(event_id)+1 FROM events").fetchone()[0]
    rng = f"(SELECT unnest(range({replicas})) AS i)"
    con.execute(
        f"""COPY (SELECT l_orderkey + i*{ok} AS l_orderkey, l_partkey, l_suppkey,
        l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
        l_returnflag, l_linestatus, l_shipdate
        FROM lineitem CROSS JOIN {rng}) TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT o_orderkey + i*{ok} AS o_orderkey, o_custkey + i*{ck} AS o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders CROSS JOIN {rng}) TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT c_custkey + i*{ck} AS c_custkey, * EXCLUDE (c_custkey)
        FROM customer CROSS JOIN {rng}) TO '{dst}/customer.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT event_id + i*{ek} AS event_id, ts, user_id + i*{uk} AS user_id,
        event_type, value, props
        FROM events CROSS JOIN {rng}) TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT doc_id + i*{dk} AS doc_id,
        array_to_string(list_transform(string_split(text, ' '),
                                       t -> t || 'x' || i::VARCHAR), ' ') AS text,
        lang, source, n_chars
        FROM documents CROSS JOIN {rng}) TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    vk = con.sql("SELECT max(vec_id)+1 FROM read_parquet"
                 f"('{src}/embeddings.parquet')").fetchone()[0]
    # replicate vectors with a per-replica nudge on dim 1: the corpus grows
    # 10× with DISTINCT near-neighbors (stacking exact copies would turn
    # every LSH bucket into a degenerate clique and measure the cap, not
    # the plan)
    con.execute(
        f"""COPY (SELECT vec_id + i*{vk} AS vec_id,
        list_transform(list_concat([embedding[1] + i * 0.01], embedding[2:]),
                       x -> x::FLOAT) AS embedding,
        label
        FROM read_parquet('{src}/embeddings.parquet') CROSS JOIN {rng})
        TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    for t in ("region", "nation", "supplier", "part"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet'))"
            f" TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--no-gen"]
    skip_gen = "--no-gen" in sys.argv[1:]
    replicas = int(argv[0]) if argv else 10
    probes = tuple(argv[1:]) or PROBES
    src, dst = "/root/testdata/sf0.1", "/tmp/sfprobe"
    if skip_gen:
        if not os.path.exists(os.path.join(dst, "part.parquet")):  # last COPY
            raise SystemExit("--no-gen: no complete corpus at /tmp/sfprobe")
    else:
        t0 = time.time()
        generate(src, dst, replicas)
        print(f"generated {replicas}x probe in {time.time() - t0:.1f}s")

    from streamsurfer_spark.queries import registry
    from streamsurfer_spark.session import get_spark

    spark = get_spark("scale-probe")
    reg = registry()
    reg["qr02_filter_agg"].spark(spark, src).write.format("noop").mode("overwrite").save()
    for sf_dir, label in [(src, "sf0.1"), (dst, f"{replicas}x")]:
        for name in probes:
            t0 = time.perf_counter()
            reg[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            print(f"{label} {name}: {time.perf_counter() - t0:.2f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
