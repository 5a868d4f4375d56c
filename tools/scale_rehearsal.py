#!/usr/bin/env python3
"""Standing ×10 scale-rehearsal gate (round-16 verdict item 3).

Times the given queries at the bench scale (sf0.1) and at the ×10
corpus (scale10, built by `graft.tools.ScaleGen`) in SEPARATE fresh
JVMs (graft.TimeQuery, min of SPARK_GRAFT_REPS passes), and writes a
scaling-slope report:

  slope = log10(t_x10 / t_sf0.1) over the ×10 step
  (1.0 = linear, 0.0 = constant; > SLOPE_BAR flags for adjudication)

Usage:
  python3 tools/scale_rehearsal.py reports/scaling_slope_r16.txt q1 q2 ...

At least one query name is required; with none the script prints this
usage and exits 2. Exit 1 if any slope exceeds SLOPE_BAR (adjudicate in
the round report: a deliberate linear row — e.g. a full-corpus ADC join
— is fine, an accidental one is the bug this gate exists to catch).
Run it for every NEW row of the round plus the heaviest rows of the
latest Bench capture.

Environment: SPARK_GRAFT_BASE (default /root/testdata/sf0.1),
SPARK_GRAFT_X10 (default /root/repo/scale10), SPARK_GRAFT_CPUS
(passed through when set; unset, the JVM uses LocalSession's default
of 4 cores), SPARK_GRAFT_REPS (default 2),
SPARK_GRAFT_DECADES (default 1 — set 2 when the big corpus is x100,
e.g. SPARK_GRAFT_X10=/root/repo/scale100, so the reported slope stays
per-decade and comparable across rehearsal scales).
"""
import math
import os
import re
import subprocess
import sys

SLOPE_BAR = 0.9


def time_queries(sf_dir, names, reps):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_REPS=reps)
    cmd = ["sbt", "-batch", "runMain graft.TimeQuery " + " ".join(names)]
    out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                         cwd=os.path.join(os.path.dirname(__file__), ".."))
    # a nonzero sbt exit (compile error, OOM at the rehearsal scale)
    # must surface as the build/runtime failure it is, not as a
    # mystifying "no timing line" (round-16 ADVICE)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-3000:])
        raise SystemExit(f"sbt exited {out.returncode} timing {names} at "
                         f"{sf_dir} — see the log tail above")
    times = {}
    for line in out.stdout.splitlines():
        m = re.search(r"\[time\] (\S+)\s+min=([0-9.]+)", line)
        if m:
            times[m.group(1)] = float(m.group(2))
    missing = set(names) - set(times)
    if missing:
        sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-3000:])
        raise SystemExit(f"no timing line for {sorted(missing)} at {sf_dir} "
                         "(sbt exit 0 — the query ran but printed no "
                         "[time] line)")
    return times


def main(argv):
    if len(argv) < 3:
        sys.stderr.write(__doc__)
        return 2
    report, names = argv[1], argv[2:]
    base = os.environ.get("SPARK_GRAFT_BASE", "/root/testdata/sf0.1")
    x10 = os.environ.get("SPARK_GRAFT_X10", "/root/repo/scale10")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4 (LocalSession default)")
    reps = os.environ.get("SPARK_GRAFT_REPS", "2")
    decades = float(os.environ.get("SPARK_GRAFT_DECADES", "1"))
    print(f"[rehearsal] timing {len(names)} queries at {base} ...")
    t_base = time_queries(base, names, reps)
    print(f"[rehearsal] timing {len(names)} queries at {x10} ...")
    t_x10 = time_queries(x10, names, reps)
    flagged = []
    with open(report, "w") as f:
        f.write("# scaling-slope rehearsal (tools/scale_rehearsal.py)\n")
        f.write(f"# base={base} big={x10} cpus={cpus} reps={reps} "
                f"decades={decades:g}\n")
        f.write("# slope = log10(t_big / t_base) / decades (per-decade); "
                f"1.0 linear, > {SLOPE_BAR} flags for adjudication\n#\n")
        f.write(f"# {'query':<26} {'base':>7} {'x10':>7}   slope\n")
        for n in sorted(names):
            slope = math.log10(t_x10[n] / t_base[n]) / decades
            f.write(f"{n:<28} {t_base[n]:7.2f} {t_x10[n]:7.2f} "
                    f"{slope:7.2f}\n")
            if slope > SLOPE_BAR:
                flagged.append((n, slope))
        if flagged:
            f.write("#\n# FLAGGED (> %.1f — adjudicate in the round "
                    "report):\n" % SLOPE_BAR)
            for n, s in flagged:
                f.write(f"#   {n} slope={s:.2f}\n")
    print(f"[rehearsal] wrote {report}")
    for n, s in flagged:
        print(f"FLAG {n}: slope {s:.2f} > {SLOPE_BAR}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
