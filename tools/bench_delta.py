#!/usr/bin/env python3
"""Per-query decomposition of a bench-record delta against the committed prior.

Round 9 lost a day adjudicating a host reboot (~25% IO/state drift) and round
10 documented an intra-boot floor drift (~8%, uptime-correlated, uniform over
untouched queries). The lesson both times: a total-steady delta is
uninterpretable without (a) the boot fingerprint, (b) a floor-drift estimate,
and (c) per-query ratios NORMALIZED by that estimate so code regressions stand
out from environment.

This tool institutionalizes that analysis:

  python3 tools/bench_delta.py                 # committed BENCH_line.json vs working copy
  python3 tools/bench_delta.py PRIOR CURRENT   # any two record files
  python3 tools/bench_delta.py --threshold 1.3 --min-steady 0.15
  python3 tools/bench_delta.py --probe docs/BENCH_sfx10d_full_r10.json
      # scale-probe analysis: ratios of a DIFFERENT-sf record against the
      # canonical one (median ratio + the sorted tail), the per-round
      # "would this survive a 10x/100x scale-up" table

Method:
  * floor estimate = median(current/prior steady) over common queries whose
    prior steady >= --min-steady (tiny queries sit on the ~100-300 ms Spark
    job-launch floor and measure launch noise, not the engine);
  * normalized ratio = raw ratio / floor estimate;
  * a query is flagged when its normalized ratio leaves
    [1/threshold, threshold] — both regressions and improvements, because an
    unexplained improvement is a measurement question too.

Exit code is 0 always: this is an adjudication aid, not a gate. The
correctness gate is Verify/check.py; a speed claim is an interleaved A/B
from tools/bench_ab.py, since committed records from different hosts or
boots do not compare.
"""
import argparse
import json
import statistics
import subprocess
import sys

REPO = "/root/repo"
CANONICAL = "docs/BENCH_line.json"


def load(path_or_spec):
    """Read a record from a file path, or from git when given 'git:<rev>'.

    Normalizes both record shapes to {query: steady_seconds}: the canonical
    line stores plain floats, while detail/probe records store
    {cold, steady, reps} dicts per query."""
    if path_or_spec.startswith("git:"):
        rev = path_or_spec[4:]
        out = subprocess.run(
            ["git", "-C", REPO, "show", f"{rev}:{CANONICAL}"],
            capture_output=True, text=True, check=True).stdout
        rec, name = json.loads(out), f"{CANONICAL}@{rev}"
    else:
        with open(path_or_spec) as f:
            rec, name = json.load(f), path_or_spec
    raw = rec.get("queries", {})
    rec["queries"] = {q: (v["steady"] if isinstance(v, dict) else v)
                      for q, v in raw.items()}
    rec["resources"] = {q: v["resources"] for q, v in raw.items()
                        if isinstance(v, dict) and "resources" in v}
    return rec, name


def committed_prior():
    """The last committed canonical record (HEAD's BENCH_line.json)."""
    return load("git:HEAD")


def fmt_ratio(r):
    return f"{r:6.2f}x"


def probe_report(base, base_name, probe, probe_name, min_steady, tail_n=25):
    """Scale-probe mode: per-query probe/base steady ratios across DIFFERENT
    scale factors. The headline is the median ratio over queries off the
    launch floor (a probe at Nx data with median well under N is the scale
    story); the tail table names the queries that grow fastest so each can
    be attributed to output contract vs compute."""
    bq, pq = base.get("queries", {}), probe.get("queries", {})
    common = sorted(set(bq) & set(pq))
    print(f"base:  {base_name}  sf={base.get('sf')}  n={len(bq)}")
    print(f"probe: {probe_name}  sf={probe.get('sf')}  n={len(pq)}  "
          f"(boot {'matches' if base.get('boot_id') == probe.get('boot_id') else 'DIFFERS — ratios still usable, absolutes not'})")
    ratios = {q: pq[q] / bq[q] for q in common
              if bq[q] >= min_steady and bq[q] > 0}
    skipped = len(common) - len(ratios)
    if not ratios:
        print("no common queries off the launch floor; nothing to report")
        return
    med = statistics.median(ratios.values())
    print(f"median probe/base steady ratio over {len(ratios)} queries "
          f"(base steady >= {min_steady}s; {skipped} floor-bound skipped): "
          f"{med:.2f}x")

    # Shuffle growth: the direct scale signal when both records carry the
    # per-query resource counters (detail records from round 10 on). Time
    # conflates compute with data movement; shuffle bytes don't.
    br, pr = base.get("resources", {}), probe.get("resources", {})

    def shuf_ratio(q):
        b = br.get(q, {}).get("shuffle_read_mb", 0)
        p = pr.get(q, {}).get("shuffle_read_mb", 0)
        return f"{p / b:6.2f}x" if b >= 1 and p >= 0 else "     —"

    have_res = bool(br) and bool(pr)
    tail = sorted(ratios.items(), key=lambda kv: -kv[1])[:tail_n]
    print(f"\ntop {len(tail)} steady ratios:")
    hdr = f"  {'query':<34} {'base':>8} {'probe':>8} {'ratio':>8}"
    print(hdr + (f" {'shufR':>8}" if have_res else ""))
    for q, r in tail:
        row = f"  {q:<34} {bq[q]:8.2f} {pq[q]:8.2f} {fmt_ratio(r):>8}"
        print(row + (f" {shuf_ratio(q):>8}" if have_res else ""))

    if have_res:
        spills = sorted((q, v.get("spill_disk_mb", 0)) for q, v in pr.items()
                        if v.get("spill_disk_mb", 0) > 0)
        if spills:
            print(f"\ndisk spill at probe scale ({len(spills)}): "
                  + ", ".join(f"{q}={s:.0f}MB" for q, s in spills))
        else:
            print("\nno disk spill at probe scale")
    missing = sorted(set(bq) - set(pq))
    if missing:
        print(f"\nnot in probe ({len(missing)}): " + ", ".join(missing))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("prior", nargs="?", default=None,
                    help="prior record file, or git:<rev> (default git:HEAD)")
    ap.add_argument("current", nargs="?", default=f"{REPO}/{CANONICAL}",
                    help="current record file (default working BENCH_line.json)")
    ap.add_argument("--threshold", type=float, default=1.3,
                    help="flag normalized ratios outside [1/t, t] (default 1.3)")
    ap.add_argument("--min-steady", type=float, default=0.15,
                    help="exclude queries whose prior steady is under the "
                         "launch floor from the floor estimate AND the flag "
                         "table (default 0.15 s)")
    ap.add_argument("--probe", metavar="RECORD",
                    help="scale-probe mode: report probe/base steady ratios "
                         "of RECORD (any sf) against the prior record "
                         "(default committed canonical); min-steady applies "
                         "to the base side")
    args = ap.parse_args()

    prior, prior_name = load(args.prior) if args.prior else committed_prior()
    if args.probe:
        probe, probe_name = load(args.probe)
        probe_report(prior, prior_name, probe, probe_name, args.min_steady)
        return
    cur, cur_name = load(args.current)

    pq, cq = prior.get("queries", {}), cur.get("queries", {})
    common = sorted(set(pq) & set(cq))
    added = sorted(set(cq) - set(pq))
    removed = sorted(set(pq) - set(cq))

    print(f"prior:   {prior_name}  total_steady={prior.get('value', 0):.1f}s  "
          f"n={len(pq)}  boot={prior.get('boot_id', '?')[:8]}  "
          f"uptime={prior.get('uptime_s', '?')}s")
    print(f"current: {cur_name}  total_steady={cur.get('value', 0):.1f}s  "
          f"n={len(cq)}  boot={cur.get('boot_id', '?')[:8]}  "
          f"uptime={cur.get('uptime_s', '?')}s")

    if prior.get("sf") != cur.get("sf"):
        print(f"!! scale factors differ ({prior.get('sf')} vs {cur.get('sf')})"
              " — steadies are not comparable; stopping.")
        return

    cross_boot = prior.get("boot_id") != cur.get("boot_id")
    print("boot:    " + ("CROSS-BOOT — absolute steadies are not "
                         "regression-comparable; trust normalized ratios and "
                         "scale-probe ratios only" if cross_boot
                         else "same boot"))

    ratios = {q: cq[q] / pq[q] for q in common if pq[q] > 0}
    floor_pool = [r for q, r in ratios.items() if pq[q] >= args.min_steady]
    floor = statistics.median(floor_pool) if floor_pool else 1.0
    print(f"floor:   median steady ratio over {len(floor_pool)} queries "
          f"(prior steady >= {args.min_steady}s) = {floor:.3f} "
          f"({'+' if floor >= 1 else ''}{(floor - 1) * 100:.1f}% uniform drift)")

    flagged = []
    for q in common:
        if pq[q] < args.min_steady:
            continue
        norm = ratios[q] / floor
        if norm > args.threshold or norm < 1 / args.threshold:
            flagged.append((q, pq[q], cq[q], ratios[q], norm))
    flagged.sort(key=lambda t: -abs(t[2] - t[1]))

    if flagged:
        print(f"\nflagged (normalized ratio outside "
              f"[{1/args.threshold:.2f}, {args.threshold:.2f}]):")
        print(f"  {'query':<34} {'prior':>8} {'current':>8} {'raw':>8} {'norm':>8}")
        for q, p, c, raw, norm in flagged:
            print(f"  {q:<34} {p:8.2f} {c:8.2f} {fmt_ratio(raw):>8} "
                  f"{fmt_ratio(norm):>8}")
    else:
        print("\nno query leaves the normalized-ratio band: the delta is "
              "uniform floor drift plus sub-floor noise.")

    if added:
        total_added = sum(cq[q] for q in added)
        print(f"\nadded ({len(added)} queries, {total_added:.1f}s steady): "
              + ", ".join(f"{q}={cq[q]:.2f}s" for q in added))
    if removed:
        print(f"removed ({len(removed)}): " + ", ".join(removed))

    pt, ct = sum(pq[q] for q in common), sum(cq[q] for q in common)
    print(f"\ncommon-query totals: {pt:.1f}s -> {ct:.1f}s "
          f"({fmt_ratio(ct / pt if pt else 1)}); of the headline delta "
          f"{cur.get('value', 0) - prior.get('value', 0):+.1f}s, "
          f"{ct - pt:+.1f}s is common queries and "
          f"{sum(cq[q] for q in added):+.1f}s is added queries.")


if __name__ == "__main__":
    sys.exit(main())
