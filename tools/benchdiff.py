#!/usr/bin/env python3
"""Spread- and CPU-aware comparison of two Bench full artifacts
(`BENCH_FULL_c<cpus>.json`, or the older `BENCH_FULL.json`).

Usage: tools/benchdiff.py <old.json> <new.json> [threshold]

Classifies each common query's wall-clock delta using the artifacts' own
noise fields instead of a bare ratio:
  - REGRESSION: wall grew past the threshold (default 1.3x), BOTH runs
    were steady (spread <= 1.5), and process-CPU grew in step — a real
    cost increase, not host load;
  - grew?: wall grew on steady runs but EITHER side lacks cpu evidence
    (the old artifact predates the cpu field, or either run recorded
    the documented no-JMX 0.0 fallback), so neither REGRESSION nor
    LOAD? can be proven — GATES (exit 1) like a regression, because
    silently passing a real steady growth is worse than asking for a
    re-run of whichever side is missing cpu data;
  - LOAD?: wall grew but cpu stayed flat (sustained external load — the
    signature the r7 driver run showed on llm_clean_corpus), or either
    run's own spread already flags noise;
  - STEAL?: wall AND cpu grew in step, BUT the run's own /proc/stat
    steal sampling (per-query `steal` / headline `steal_pct`, emitted
    by Bench since r13) is elevated on the NEW side while the query's
    parallelism stayed flat — the r12 hypervisor-steal signature
    (uniform wall+cpu growth on unchanged code, adjudicated by hand in
    SCALING.md; this class codifies it). The bar scales with the
    growth (steal > max(1%, 5·(r−1))%): mild background steal excuses
    mild growth only — a 2x wall jump under 1.2% steal stays a gating
    REGRESSION (r13 advice: a fixed 1% bar let any genuine regression
    that happened to run under ambient steal exit 0). Non-gating.
  - IMPROVED / ~same otherwise. An IMPROVED row whose OLD side ran
    under elevated steal is tagged `old-steal!` — the baseline was
    inflated, so the improvement may be an artifact (r13 advice:
    --steal-old was parsed but never read).
Artifacts that predate the steal fields can have a measured value
injected: `--steal-old X` / `--steal-new Y` (percent), e.g. the r12
night's hand-measured 5.2.
Queries present in only one artifact are listed separately. Exit code 1
iff any REGRESSION or grew? was found, so a round script can gate on it.
If either artifact carries host_load_suspect=true (wall≈cpu parallelism
collapse on a multi-cpu box), that is printed first — its numbers are
not trustworthy for gating decisions.
"""
import json
import sys


def load(p):
    with open(p) as f:
        return json.load(f)


def main():
    args = sys.argv[1:]
    steal_inject = {"old": None, "new": None}
    for flag, key in (("--steal-old", "old"), ("--steal-new", "new")):
        while flag in args:
            i = args.index(flag)
            if i + 1 >= len(args):
                sys.exit(f"{flag} requires a percent value\n\n{__doc__}")
            steal_inject[key] = float(args[i + 1])
            del args[i:i + 2]
    if len(args) < 2:
        sys.exit(__doc__)
    old, new = load(args[0]), load(args[1])
    thr = float(args[2]) if len(args) > 2 else 1.3
    oq, nq = old["queries"], new["queries"]
    osp, nsp = old.get("spread", {}), new.get("spread", {})
    ocpu, ncpu = old.get("cpu", {}), new.get("cpu", {})
    opar, npar = old.get("parallelism", {}), new.get("parallelism", {})
    ostl, nstl = old.get("steal", {}), new.get("steal", {})

    def steal_of(art, per_q, inj, k):
        # per-query sample if measured (>= 0), else the run headline,
        # else the CLI-injected hand measurement; None = no evidence
        v = per_q.get(k, -1.0)
        if v is not None and v >= 0:
            return v
        h = art.get("steal_pct", -1.0)
        if h is not None and h >= 0:
            return h
        return inj

    def steal_elevated(k, r):
        # NEW side only: steal on the old run inflates the BASELINE,
        # which can only shrink the new/old ratio — it can never explain
        # growth, so it must never excuse a regression. The bar scales
        # with the growth being excused: 5 points of steal per 1.0x of
        # ratio past 1, floored at 1% (r13 advice — a fixed 1% bar let
        # big regressions under ambient steal exit 0)
        v = steal_of(new, nstl, steal_inject["new"], k)
        return v is not None and v > max(1.0, 5.0 * (r - 1.0))

    def old_steal_elevated(k):
        # the --steal-old consumer: an elevated OLD side inflates the
        # baseline, so apparent improvements may be artifacts
        v = steal_of(old, ostl, steal_inject["old"], k)
        return v is not None and v > 1.0

    def par_flat(k):
        po, pn = opar.get(k, 0.0), npar.get(k, 0.0)
        return po > 0 and pn > 0 and pn / po < 1.3
    if old.get("cpus") != new.get("cpus") or old.get("sf") != new.get("sf"):
        print(f"WARNING: configs differ — cpus {old.get('cpus')} vs "
              f"{new.get('cpus')}, sf {old.get('sf')} vs {new.get('sf')}")
    for name, art in (("old", old), ("new", new)):
        if art.get("host_load_suspect"):
            print(f"WARNING: {name} artifact flags host_load_suspect — "
                  "wall≈cpu on a multi-cpu box; its timings reflect host "
                  "load, not the engine")
    rows, regressions, grews = [], [], []
    for k in sorted(set(oq) & set(nq)):
        if oq[k] <= 0:
            continue
        r = nq[k] / oq[k]
        noisy = max(osp.get(k, 1.0), nsp.get(k, 1.0)) > 1.5
        co = min(ocpu.get(k, [0.0]) or [0.0])
        cn = min(ncpu.get(k, [0.0]) or [0.0])
        # cpu == 0.0 is the documented "no JMX bean" fallback, not a
        # measurement: either side missing means NO cpu evidence (grew?
        # gating), never proof of external load
        cr = (cn / co) if co > 0 and cn > 0 else None
        # sub-half-second queries are dominated by job-scheduling jitter;
        # a 1.3x swing there is not signal at any confidence
        tiny = max(oq[k], nq[k]) < 0.5
        if r >= thr and not noisy and not tiny and cr is not None \
                and cr >= (1 + (r - 1) / 2):
            # wall AND cpu grew on steady runs — a regression UNLESS the
            # run's own steal evidence says the hypervisor inflated both
            # (the r12 signature: uniform wall+cpu growth on unchanged
            # code under measured steal, parallelism flat)
            if steal_elevated(k, r) and par_flat(k):
                cls = "STEAL?"   # self-adjudicated host steal — non-gating
            else:
                cls = "REGRESSION"
                regressions.append(k)
        elif r >= thr and not noisy and not tiny and cr is None:
            cls = "grew?"        # either side lacks cpu evidence — gates
            grews.append(k)
        elif r >= thr and not tiny:
            cls = "LOAD?" if (cr is not None and cr < (1 + (r - 1) / 2)) \
                else "noisy"
        elif r >= thr:
            cls = "jitter"
        elif r <= 1 / thr:
            cls = "IMPROVED"
        else:
            continue
        cinfo = f" cpu x{cr:.2f}" if cr is not None else ""
        oldsteal = " old-steal!" if cls == "IMPROVED" and \
            old_steal_elevated(k) else ""
        rows.append(f"{cls:10s} {k:28s} {oq[k]:7.2f}s -> {nq[k]:7.2f}s "
                    f"(x{r:.2f}{cinfo}"
                    f"{' spread!' if noisy else ''}{oldsteal})")
    for line in rows:
        print(line)
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    if only_old:
        print(f"removed: {', '.join(only_old)}")
    if only_new:
        print(f"added:   {', '.join(only_new)}")
    print(f"total {old['value']:.1f}s -> {new['value']:.1f}s  "
          f"({len(oq)} -> {len(nq)} queries); "
          f"{len(regressions)} regression(s), {len(grews)} grew?(s)")
    sys.exit(1 if (regressions or grews) else 0)


if __name__ == "__main__":
    main()
