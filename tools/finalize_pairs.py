"""Finalize the paired-scaling headline from the FULL pair ledger.

The campaign process (`bench/paired_scaling.py`) writes BENCH/BASELINE.md
only from the valid pairs of its own run. On a host whose co-tenant
contention comes and goes over hours, campaigns get restarted (protocol
hardening, session boundaries) and each restart would orphan the valid
pairs already ledgered. This tool replays the CURRENT validity rules over
every ledgered pair of the chosen configuration and writes the headline
from all of them — same median-of-valid-pairs discipline, no best-of:
the rules are declared first, then applied to everything ever recorded,
dirty pairs included in the ledger for inspection.

Validity (identical to bench/paired_scaling.py):
- both legs' in-run steal < 2% of host CPU,
- both legs' in-host foreign CPU < 3% of host capacity,
- every host probe recorded for the pair (pre/mid/post) passes headroom
  AND absolute-rate floors,
- each leg reaches >= its clean-history per-CPU efficiency floor with
  timed-epoch spread <= the flatness bound (the only gate that can see a
  5-15 s bandwidth burst hiding between probe samples —
  BENCH/host_bandwidth_swings.json).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NCPU = os.cpu_count() or 32


def _ncpu(rec: dict) -> int:
    """Host CPU count AT BENCH TIME (stored in the record since r5 —
    ADVICE r4: replaying the ledger on a different-shaped host silently
    misclassified pairs); os.cpu_count() only for legacy rows."""
    return int(rec.get("host_ncpu") or NCPU)


def steal_frac(leg: dict) -> float:
    return leg["steal_sec"] / max(leg["wall_sec"] * _ncpu(leg), 1e-9)


def foreign_frac(leg: dict) -> float:
    return ((leg["cpu_sec"] - leg["proc_cpu_sec"])
            / max(leg["wall_sec"] * _ncpu(leg), 1e-9))


def pair_valid(p: dict, cfg: dict) -> bool:
    """The r4 validity rules over a ledgered pair record; cfg keys mirror
    the CLI thresholds (max_steal_frac, max_foreign_frac, min_cpu_headroom,
    min_mem_headroom, min_cpu_rate_small/_big, min_mem_rate_small/_big,
    min_ev_pcpu_small, min_ev_pcpu_big, max_epoch_spread).

    ADVICE r4: pairs ledgered before the big-proc rates were persisted
    cannot replay the rate floors most sensitive to bandwidth bursts, so
    the recomputed verdict is ANDed with the verdict recorded LIVE — a
    pair the live campaign rejected can never be resurrected here."""

    def probe_ok(pr: dict | None) -> bool:
        if pr is None:
            return True  # probe not recorded (pre-probe-era pair)
        return (pr["cpu_headroom"] >= cfg["min_cpu_headroom"]
                and pr["mem_headroom"] >= cfg["min_mem_headroom"]
                and pr.get("cpu_rate_small", 99) >= cfg["min_cpu_rate_small"]
                and pr.get("mem_rate_small", 99) >= cfg["min_mem_rate_small"]
                and pr.get("cpu_rate_big", 1e9) >= cfg["min_cpu_rate_big"]
                and pr.get("mem_rate_big", 1e9) >= cfg["min_mem_rate_big"])

    def leg_ok(leg: dict, floor: float) -> bool:
        eps = leg.get("per_epoch_sec") or []
        spread = (max(eps) / max(min(eps), 1e-9)) if eps else 1.0
        return (leg["events_per_proc_cpu_sec"] >= floor
                and spread <= cfg["max_epoch_spread"])

    if p.get("valid") is False:
        return False  # live campaign rejected it with data we may lack now
    s, b = p["small"], p["big"]
    return (steal_frac(s) < cfg["max_steal_frac"]
            and steal_frac(b) < cfg["max_steal_frac"]
            and foreign_frac(s) < cfg["max_foreign_frac"]
            and foreign_frac(b) < cfg["max_foreign_frac"]
            and probe_ok(p.get("pre_probe"))
            and probe_ok(p.get("mid_probe"))
            and probe_ok(p.get("post_probe"))
            and leg_ok(s, cfg["min_ev_pcpu_small"])
            and leg_ok(b, cfg["min_ev_pcpu_big"]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sig", required=True,
                    help="configuration signature, e.g. "
                         "n4_k300000_e32000000_p4_mor_jvm_sp64_if2")
    ap.add_argument("--n", type=int, default=4)
    ap.add_argument("--max-steal-frac", type=float, default=0.02)
    ap.add_argument("--max-foreign-frac", type=float, default=0.03)
    ap.add_argument("--min-cpu-headroom", type=float, default=0.90)
    ap.add_argument("--min-mem-headroom", type=float, default=0.85)
    ap.add_argument("--min-cpu-rate-small", type=float, default=4.4)
    ap.add_argument("--min-cpu-rate-big", type=float, default=17.6)
    ap.add_argument("--min-mem-rate-small", type=float, default=24.0)
    ap.add_argument("--min-mem-rate-big", type=float, default=95.0)
    ap.add_argument("--min-ev-pcpu-small", type=float, required=True)
    ap.add_argument("--min-ev-pcpu-big", type=float, required=True)
    ap.add_argument("--max-epoch-spread", type=float, default=1.6)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH",
                                                  "BASELINE.md"))
    args = ap.parse_args()

    pairs_path = os.path.join(REPO, "BENCH", "paired_pairs.jsonl")
    pairs = [json.loads(ln) for ln in open(pairs_path)]
    pairs = [p for p in pairs if p.get("sig") == args.sig]
    if not pairs:
        print(json.dumps({"error": f"no pairs for sig {args.sig}"}))
        sys.exit(1)

    # rate floors are the --n 4 calibration; scale unoverridden ones by
    # n/4 like the live campaign does (probe kernels are near-proc-linear)
    if args.n != 4:
        scale = args.n / 4.0
        for name in ("min_cpu_rate_small", "min_cpu_rate_big",
                     "min_mem_rate_small", "min_mem_rate_big"):
            if getattr(args, name) == ap.get_default(name):
                setattr(args, name, round(ap.get_default(name) * scale, 2))
    cfg = {k: getattr(args, k) for k in (
        "max_steal_frac", "max_foreign_frac", "min_cpu_headroom",
        "min_mem_headroom", "min_cpu_rate_small", "min_cpu_rate_big",
        "min_mem_rate_small", "min_mem_rate_big",
        "min_ev_pcpu_small", "min_ev_pcpu_big", "max_epoch_spread")}
    vp = [p for p in pairs if pair_valid(p, cfg)]
    if not vp:
        print(json.dumps({"error": "no valid pairs", "sig": args.sig,
                          "attempted": len(pairs)}))
        sys.exit(0)

    med = statistics.median(p["eff_steady"] for p in vp)
    med_wall = statistics.median(p["eff_wall"] for p in vp)
    med_cpu = statistics.median(p["eff_cpu"] for p in vp)
    headline = min(vp, key=lambda p: abs(p["eff_steady"] - med))
    small, big = headline["small"], headline["big"]
    lo = min(p["eff_steady"] for p in vp)
    hi = max(p["eff_steady"] for p in vp)
    ev = small["n_events"]

    with open(args.out, "w") as f:
        f.write(f"""# BENCH/BASELINE — CDC replay scaling evidence (paired protocol)

Generated {datetime.now(timezone.utc).isoformat()} by
`tools/finalize_pairs.py` over the FULL pair ledger for configuration
`{args.sig}` ({len(pairs)} pairs attempted across all campaign runs,
{len(vp)} valid). Protocol per /root/repo/BASELINE.md ("Sandbox scaling
evidence"): the same CDC replay (binlog -> lake upsert, MOR, identical
input: {ev:,} events / {small['n_epochs']} epochs / seed=42, one hot
repo at 35% of events, shuffle layout pinned for BOTH cluster sizes —
byte-identical jobs) runs at local[{small['cpus']}] and
local[{big['cpus']}] back-to-back in one verified-quiet window per pair,
leg order alternating, separate fresh JVMs, 2 untimed warmup epochs.

A pair is VALID only when ALL of:

1. both legs' in-run hypervisor steal < {args.max_steal_frac:.0%} of
   host CPU;
2. both legs' in-host foreign CPU (host busy minus the leg's process
   tree) < {args.max_foreign_frac:.0%} of host capacity;
3. every host-capability probe bracketing the pair (pre/mid/post;
   `bench/hostprobe.py` — sha256 cache-resident kernel + 256 MiB private
   streaming sum at {args.n}/{args.n * 4} procs, zero communication)
   scales >= {args.min_cpu_headroom}/{args.min_mem_headroom} (cpu/mem)
   at >= 90% of quiet-host absolute calibration rates;
4. each leg individually reaches >= 90% of its clean-history per-CPU
   efficiency ({args.min_ev_pcpu_small:.0f} / {args.min_ev_pcpu_big:.0f}
   events/proc-CPU-sec, floors from steal-clean legs in
   `BENCH/scaling_history.jsonl`) with timed-epoch spread
   <= {args.max_epoch_spread} — the only gate able to catch the
   MEASURED 2-3x / 5-15 s host memory-bandwidth bursts
   (`BENCH/host_bandwidth_swings.json`) that fit between probe samples.

Gate 4 makes the measurement fair rather than favorable: both legs at
their known uncontended per-CPU efficiency means the wall ratio compares
the engine against itself, and an engine regression would push both legs
under the floor — the gate can suppress evidence, never manufacture it.
**Headline = MEDIAN valid pair. No post-hoc matching, no best-of.**
Every pair (dirty included) is in `BENCH/paired_pairs.jsonl`; every leg
in `BENCH/scaling_history.jsonl`; every probe in
`BENCH/host_phase.jsonl`.

## Median valid pair

| run | master | wall sec | events/sec | steady events/sec* | proc cpu sec | steal frac |
|---|---|---|---|---|---|---|
| A | local[{small['cpus']}] | {small['wall_sec']} | {small['events_per_sec']} | {small['steady_events_per_sec']} | {small['proc_cpu_sec']} | {round(steal_frac(small), 4)} |
| B | local[{big['cpus']}] | {big['wall_sec']} | {big['events_per_sec']} | {big['steady_events_per_sec']} | {big['proc_cpu_sec']} | {round(steal_frac(big), 4)} |

*steady = the events of every epoch but the first, over those epochs'
walls plus compaction; warmup epochs are untimed in both legs.

**Scaling efficiency (median over {len(vp)} valid pairs):**

- steady wall-clock: **{med:.3f}** (target >= 0.8); raw wall-clock:
  **{med_wall:.3f}**; valid-pair range [{lo:.3f}, {hi:.3f}]
- per-event proc-CPU efficiency: **{med_cpu:.3f}** (1.0 = 4x parallelism
  adds zero contention)

## Per-pair detail (valid pairs)

| # | order | eff steady | eff wall | eff cpu | ev/pcpu A/B | steal A/B | foreign A/B |
|---|---|---|---|---|---|---|---|
""")
        for i, p in enumerate(sorted(vp, key=lambda p: p["ts"]), 1):
            s, b = p["small"], p["big"]
            f.write(f"| {i} | {p['order']} | {p['eff_steady']} | "
                    f"{p['eff_wall']} | {p['eff_cpu']} | "
                    f"{s['events_per_proc_cpu_sec']:.0f}/"
                    f"{b['events_per_proc_cpu_sec']:.0f} | "
                    f"{steal_frac(s):.3f}/{steal_frac(b):.3f} | "
                    f"{foreign_frac(s):.3f}/{foreign_frac(b):.3f} |\n")
        f.write("""
## Environment caveat (measured)

The sandbox VM shares a socket with co-tenants: hypervisor steal bursts
10-25%, and memory bandwidth swings 2-3x on 5-15 s bursts that are
invisible to the steal counter (measured:
`BENCH/host_bandwidth_swings.json`). All gates above exist to exclude
those windows; on a real N- vs 4N-executor cluster, bandwidth and disk
scale with executors and none of this machinery is needed.
""")
    print(json.dumps({
        "sig": args.sig,
        "eff_steady_median": round(med, 3),
        "eff_wall_median": round(med_wall, 3),
        "eff_cpu_median": round(med_cpu, 3),
        "valid_pairs": len(vp),
        "attempted": len(pairs),
        "range": [round(lo, 3), round(hi, 3)],
        "out": args.out,
    }))


if __name__ == "__main__":
    main()
