"""Per-layer metrics of a traced measurement, named after the engine modules.

Each metric is computed from spans (``trace.Tracer``), from the stats dicts
the engine returns, from the Spark event log, or from /proc. A metric that a
workload's code path never reaches reads 0 (for example ``lake.write_s`` on
the CoW workload, whose merge returns no stage timings).
"""

from __future__ import annotations

from cdcbench.trace import EventLog, Tracer, covered_seconds, parse_desc
from cdcbench.workloads import Phase, median

COVERAGE_FLOOR = 0.95
# spans that run inside apply_epoch; the consumer's spans carry an epoch too
EPOCH_SPANS = {"apply_epoch", "batch_profile", "prepare_actions",
               "prepare_actions_fast", "merge_batch"}


def _per_epoch(total: float, n: int) -> float:
    return total / n if n else 0.0


def per_layer(ph: Phase, tr: Tracer, log: EventLog, session_start_s: float,
              unjudged_untraced: dict,
              unjudged_traced: dict) -> tuple[dict, dict]:
    """(metrics, detail): the per-layer metrics, keyed as in
    BENCHMARK.json's ``per_layer``, and the per-epoch evidence behind them
    (coverage, per-epoch job counts)."""
    applies = tr.named("apply_epoch")
    n = len(applies)
    epochs = {s.epoch for s in applies}
    merges = [(i, s) for i, s in enumerate(tr.spans)
              if s.name == "merge_batch" and s.end and s.epoch in epochs]
    committed = {i for i, s in merges
                 if isinstance(s.result, dict) and not s.result.get("aborted")
                 and not s.result.get("skipped")}
    stats = [tr.spans[i].result for i in sorted(committed)]

    jobs_by_epoch: dict = {s.epoch: [] for s in applies}
    jobs_by_span: dict = {}
    for j in log.jobs.values():
        d = parse_desc(j.desc)
        if d and d[0] == tr.tag and d[1] in EPOCH_SPANS and d[2].isdigit():
            jobs_by_epoch.setdefault(int(d[2]), []).append(j)
            jobs_by_span.setdefault(d[3], []).append(j)
    driver, jobs_n, tasks_n, exch, skew = [], [], [], [], []
    shuffle_bytes = spill = 0
    for s in applies:
        jobs = jobs_by_epoch[s.epoch]
        cov = covered_seconds([(j.start, j.end) for j in jobs if j.end],
                              s.start, s.end)
        driver.append(s.dur - cov)
        jobs_n.append(len(jobs))
        stages = [log.stages[sid] for j in jobs for sid in j.stages
                  if sid in log.stages]
        tasks_n.append(sum(len(st.task_s) for st in stages))
        exch.append(sum(1 for st in stages if st.shuffle_write_bytes))
        shuffle_bytes += sum(st.shuffle_write_bytes for st in stages)
        spill += sum(st.spill_bytes for st in stages)
        ratios = [max(st.task_s) / max(median(st.task_s), 1e-3)
                  for st in stages if st.shuffle_read and len(st.task_s) > 1]
        skew.append(max(ratios) if ratios else 1.0)
    all_jobs = [j for js in jobs_by_epoch.values() for j in js]
    arrow_rows, arrow_bytes = log.arrow(all_jobs)
    # dedup's output as the engine counts it: both action paths end in the
    # Arrow normalize+sha UDF, one row per action, evaluated inside the
    # merge that consumes them; merges that aborted or skipped are left out
    actions = sum(log.arrow(jobs_by_span.get(i, []))[0] for i in committed)

    rows_in = ph.events
    rows_written = sum(int(st.get("rows_written", 0)) for st in stats)
    coverage = tr.coverage()
    consume = ph.consume
    refresh = [c["refresh"] for c in consume if "refresh" in c]
    n_ref = sum(len(r) for r in refresh)
    compact_s = sum(s.dur for s in tr.named("compact"))
    span_apply = sum(s.dur for s in applies)

    def stat_sum(k):
        return sum(float(st.get(k, 0.0)) for st in stats)

    def overhead(k, lower_better=True):
        a, b = unjudged_untraced[k], unjudged_traced[k]
        return (b / a - 1.0) if lower_better else (a / b - 1.0)

    m = {
        "session.start_s": session_start_s,
        "pipeline.epoch_wall_s": median(s.dur for s in applies),
        "pipeline.stream_overhead_s": _per_epoch(
            sum(ph.rounds) - span_apply - compact_s, n) if ph.rounds else 0.0,
        "pipeline.driver_s": median(driver),
        "pipeline.jobs_per_epoch": median(jobs_n),
        "pipeline.path_fast": tr.calls["prepare_actions_fast"],
        "pipeline.path_general": tr.calls["prepare_actions"],
        "pipeline.path_fast_aborted": sum(
            1 for _, s in merges if isinstance(s.result, dict)
            and s.result.get("aborted")),
        "dedup.profile_s": _per_epoch(
            sum(s.dur for s in tr.named("batch_profile")), n),
        "dedup.rows_in": rows_in,
        "dedup.actions_out": actions,
        "dedup.keep_ratio": actions / rows_in if rows_in else 0.0,
        "dedup.exchanges_per_epoch": median(exch),
        "dedup.shuffle_write_bytes": _per_epoch(shuffle_bytes, n),
        "dedup.task_skew": median(skew),
        "udf.python_cpu_s": _per_epoch(ph.cpu.python_workers_s, n),
        "udf.arrow_rows": arrow_rows,
        "udf.arrow_bytes": arrow_bytes,
        "lake.merge_s": _per_epoch(sum(s.dur for _, s in merges), n),
        "lake.write_s": _per_epoch(stat_sum("t_write"), n),
        "lake.footer_scan_s": _per_epoch(stat_sum("t_scan"), n),
        "lake.commit_s": _per_epoch(stat_sum("t_commit"), n),
        "lake.ledger_s": _per_epoch(stat_sum("t_ledger"), n),
        "lake.files_written": sum(int(st.get("files_written", 0))
                                  for st in stats),
        "lake.rows_written": rows_written,
        "lake.write_amplification": rows_written / actions if actions else 0.0,
        "lake.compact_s": compact_s,
        "lake.read_s": median(ph.scans),
        "lake.scoped_read_s": median(c["read_s"] for c in consume),
        "lake.read_files": ph.read_files,
        "lake.metadata_bytes": ph.metadata_bytes,
        "changefeed.table_changes_s": median(c["table_changes_s"]
                                           for c in consume
                                           if "table_changes_s" in c),
        "changefeed.change_rows": sum(c.get("changes", 0) for c in consume),
        "changefeed.refresh_sum_s": median(r[0][1] for r in refresh),
        "changefeed.refresh_distinct_s": median(r[1][1] for r in refresh),
        "changefeed.incremental_ratio": (
            sum(1 for r in refresh for mode, _ in r if mode == "incremental")
            / n_ref if n_ref else 0.0),
        "spark.jvm_cpu_s": _per_epoch(ph.cpu.jvm_s, n),
        "spark.gc_s": ph.gc_s,
        "spark.spill_bytes": spill,
        "spark.tasks_per_epoch": median(tasks_n),
        "trace.min_coverage": min((c for _, c in coverage), default=0.0),
        "trace.uncovered_epochs": sum(1 for _, c in coverage
                                      if c < COVERAGE_FLOOR),
        "trace.overhead_epoch_apply": overhead("epoch_apply_p50_s"),
        "trace.overhead_ingest": overhead("ingest_events_per_s", False),
        "trace.overhead_consumer": overhead("consumer_p50_s"),
    }
    detail = {
        # what the generator's log implies dedup.actions_out should be
        "expected_actions": ph.expected_actions,
        "coverage_by_epoch": {str(e): round(c, 4) for e, c in coverage},
        "uncovered_epochs": [e for e, c in coverage if c < COVERAGE_FLOOR],
        "jobs_by_epoch": {str(s.epoch): len(jobs_by_epoch[s.epoch])
                          for s in applies},
        "driver_s_by_epoch": {str(s.epoch): round(d, 4)
                              for s, d in zip(applies, driver)},
        "task_skew_by_epoch": {str(s.epoch): round(k, 3)
                               for s, k in zip(applies, skew)},
        "unjudged_untraced": unjudged_untraced,
        "unjudged_traced": unjudged_traced,
    }
    return m, detail
