"""Per-layer metrics of a traced run, from the harness's raw record."""
import stats

BARRIERS = ("order_items", "orders", "customers", "products_core", "products",
            "customer_segmentation")
STREAMS = ("stream_windowed_counts", "stream_sessions_multibatch",
           "stream_dedup_multibatch", "stream_user_rollup_multibatch",
           "stream_attribution_multibatch", "stream_sink_parquet",
           "stream_sink_merge")
ACCOUNTING = ("batches", "rows", "trigger_ms", "add_batch_ms", "wal_ms",
              "state_commit_ms", "state_stores")


def layers(raw, run_s):
    """Metrics of single layers. Each is 0 on a workload that does not
    reach its layer: Mat.* and semantic.* outside semantic_queries,
    streaming.* outside stream_ingest."""
    out = dict(raw["layers"])  # engine.*, jvm.*, trace.listener_ms
    out["trace.run_s"] = run_s

    # Mat: the set-up build of semantic_queries; stream_ingest builds none
    b = (raw["builds"] or [{"wall_s": 0.0, "self_s": {}, "files": 0, "bytes": 0}])[0]
    out["Mat.build_s"] = b["wall_s"]
    out["Mat.self_s"] = sum(b["self_s"].values(), 0.0)
    for name in BARRIERS:
        out[f"Mat.self_s.{name}"] = b["self_s"].get(name, 0.0)
    out["Mat.concurrency"] = out["Mat.self_s"] / b["wall_s"] if b["wall_s"] else 0.0
    out["Mat.files"] = b["files"]
    out["Mat.bytes_mb"] = b["bytes"] / 1e6

    ops = [o for o in raw["ops"] if not o["warmup"] and not o.get("error")]
    rounds = len({o["round"] for o in ops}) or 1

    sem = [o for o in ops if "construct_s" in o]
    for phase in ("construct_s", "plan_s", "exec_s"):
        out[f"semantic.{phase}"] = stats.median([o[phase] for o in sem])
    out["semantic.files_read"] = sum(o["files_read"] for o in sem) / rounds
    out["semantic.files_pruned"] = sum(o["files_pruned"] for o in sem) / rounds

    # streaming: Streams.lastAccounting entries each op replaced, summed
    # per round.
    total = dict.fromkeys(ACCOUNTING, 0.0)
    per_stream = dict.fromkeys(STREAMS, 0.0)
    for o in ops:
        for acct in o.get("acct", {}).values():
            for k in ACCOUNTING:
                total[k] += acct.get(k, 0) / rounds
            if o["name"] in per_stream:
                per_stream[o["name"]] += acct.get("add_batch_ms", 0) / rounds
    for k, v in total.items():
        out[f"streaming.{k}"] = v
    trig = total["trigger_ms"]
    out["streaming.fixed_frac"] = 1 - total["add_batch_ms"] / trig if trig else 0.0
    for name, v in per_stream.items():
        out[f"streaming.add_batch_ms.{name}"] = v
    return out
