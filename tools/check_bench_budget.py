#!/usr/bin/env python3
"""Per-query bench budget gate.

The aggregate bench bar (total within 2x of the recorded baseline) can
hide per-row drift as the query surface grows; this tool holds every
query to 1.5x its recorded time instead.

Usage:
  # check one or more bench captures (files holding Bench stdout JSON):
  python3 tools/check_bench_budget.py /tmp/bench_a.json [/tmp/bench_b.json ...]
  # re-record the budget after an intentional plan/surface change:
  python3 tools/check_bench_budget.py /tmp/bench.json --update \
      [--reverify reports/bench_reverify_rN.txt]

Exit 1 on any regression (check mode) so it can gate a round script.
The budget lives at src/main/resources/bench_budget.tsv; Bench itself
also reads it and reports "regressions" in its summary line.

Floor-raise guard (round-12 verdict item): --update REFUSES to raise
any query's floor more than RAISE_CAP (1.3x) over its committed
predecessor unless an isolated-reverify line for that query exists in
the report passed via --reverify. A wholesale "refresh the floors"
move can otherwise absorb a real regression — the guard forces every
big raise to carry its own fresh-JVM adjudication evidence. New
queries (no predecessor) are exempt; lowering a floor always allowed.

Host-variance separation (round-15/16 verdict items). Two layers,
composable, because a 32-thread local bench has TWO distinct noise
modes that no single sentinel can absorb (measured on the committed
r15 capture pair: a uniform ~1.1-1.4x band PLUS uncorrelated per-row
spikes up to 2.8x on fp-heavy rows while the light sentinel read
1.41x):

 - MULTIPLE captures: pass several capture files and each query is
   gated on its MINIMUM across them. Timing noise is one-sided (a
   busy host only inflates), so min-of-k estimates the clean time and
   uncorrelated per-row spikes vanish — while a REAL code regression
   persists in every capture and still trips the gate. This is the
   primary host/code separator; round close should always gate on a
   fresh-JVM pair.
 - `--median`: the host factor h is the MEDIAN of all per-row
   capture/floor ratios (a 200-row "fleet sentinel" — robust, no
   single calibration row to get unlucky), clamped to [1, 2]. Every
   comparison then works on time/h. Absorbs the uniform band; cannot
   absorb per-row spikes (that is what multiple captures are for).

Ratchet guard (round-16 ADVICE): when normalization is active, update
mode commits the NORMALIZED time (t/h) as the new floor, matching the
value the raise guard adjudicated — committing raw host-inflated times
would permanently loosen every future gate by h. Raw capture values
stay on disk in the committed reports/ captures.

Gate-then-update ordering (round-16 verdict: floor-basis circularity).
The binding regression evidence is the check against the PREVIOUS
round's committed floors — a round that re-records floors from its own
captures and then reports "all within budget" is partially grading
itself. The required close flow is:

  1. CHECK the round's captures against the committed (prior) floors
     and paste that output into the close report;
  2. only then --update, which re-prints the same vs-prior regression
     table (PRIOR-FLOOR REGRESSION lines) so the evidence survives in
     the update transcript even if step 1 is skipped, and appends
     every written floor to reports/bench_budget_history.tsv (pass
     --history-tag rN) so multi-round floor drift stays visible.

Scale-tag discipline (round-16 ADVICE, medium): ALL captures must
carry the SAME sf tag in BOTH modes — a second capture recorded at a
smaller scale would min-merge its tiny times against the sf0.1 floors
and silently pass every query.

Crash handling (round-16 ADVICE, low): a query that crashed in EVERY
capture always fails. A crash in SOME captures reports WHICH capture
crashed; it clears only when a successful sibling capture exists AND
the query carries an isolated-reverify line (--reverify) — a
transient host-level failure then doesn't hard-fail the round, while
an unadjudicated flake still does.
"""
import json
import os
import statistics
import sys

THRESHOLD = 1.5
RAISE_CAP = 1.3
HOST_FACTOR_CAP = 2.0
BUDGET = os.path.join(os.path.dirname(__file__), "..",
                      "src", "main", "resources", "bench_budget.tsv")
HISTORY = os.path.join(os.path.dirname(__file__), "..",
                       "reports", "bench_budget_history.tsv")
# Resource budgets (round-16 verdict item 5): shuffle-write bytes and
# peak task memory per query, recorded by the same --update and gated
# on a GENEROUS multiple + absolute slack — bytes are deterministic
# per plan shape (a 3x jump is a plan change, not noise), while the
# slack keeps KB-scale rows from flagging on AQE partition jitter.
BYTES_BUDGET = os.path.join(os.path.dirname(__file__), "..",
                            "src", "main", "resources",
                            "bench_bytes_budget.tsv")
BYTES_MULT = 3.0
BYTES_SLACK = 64 * 1024 * 1024
MEM_SLACK = 256 * 1024 * 1024


def load_capture(path):
    """Full capture: times, shuffle-write bytes, peak task memory (the
    latter two {} on pre-round-17 captures), sf tag."""
    for line in open(path):
        line = line.strip()
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue  # brace-prefixed log noise (stack traces, log4j)
        if "queries" in obj:
            return (obj["queries"], obj.get("shuffle_bytes", {}),
                    obj.get("peak_mem", {}), obj.get("sf", ""))
    raise SystemExit(f"no bench JSON line with 'queries' in {path}")


def load_queries(path):
    queries, _, _, sf = load_capture(path)
    return queries, sf


def merge_captures(paths):
    """Per-query MIN across SUCCESSFUL captures (one-sided noise), a
    map of crashed query -> the capture files it crashed in (so a
    transient host-level failure is attributable and, with an isolated
    reverify, clearable), and each capture's sf tag. All captures must
    carry the same sf tag — min-merging a smaller scale's times against
    sf0.1 floors would silently pass everything."""
    merged, crashed, sfs = {}, {}, []
    mbytes, mmem = {}, {}
    for p in paths:
        queries, sbytes, smem, sf = load_capture(p)
        sfs.append(sf)
        for n, t in queries.items():
            if t < 0:
                crashed.setdefault(n, []).append(os.path.basename(p))
            else:
                if n not in merged or t < merged[n]:
                    merged[n] = t
                if n in sbytes and (n not in mbytes or sbytes[n] < mbytes[n]):
                    mbytes[n] = sbytes[n]
                if n in smem and (n not in mmem or smem[n] < mmem[n]):
                    mmem[n] = smem[n]
    if len(set(sfs)) > 1:
        raise SystemExit(
            "refusing to merge captures recorded at different scales: "
            + ", ".join(sorted(set(sfs)))
            + " — a smaller-scale capture min-merged against sf0.1 "
            "floors would pass every query vacuously")
    return merged, crashed, sfs, mbytes, mmem


def load_budget(path):
    budget = {}
    if os.path.exists(path):
        for line in open(path):
            name, t = line.strip().split("\t")
            budget[name] = float(t)
    return budget


def load_bytes_budget(path):
    budget = {}
    if os.path.exists(path):
        for line in open(path):
            name, b, m = line.strip().split("\t")
            budget[name] = (float(b), float(m))
    return budget


def reverified_queries(path):
    """Query names adjudicated in a bench_reverify report: non-comment
    lines lead with the query name (see reports/bench_reverify_r12.txt).
    """
    names = set()
    for line in open(path):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        names.add(line.split()[0])
    return names


def host_factor(queries, budget):
    """Capture/floor host factor: the median of all per-row ratios,
    clamped to [1, HOST_FACTOR_CAP]."""
    ratios = [queries[n] / budget[n] for n in queries
              if n in budget and budget[n] > 0]
    if not ratios:
        raise SystemExit("--median: no overlapping rows between the "
                         "capture and the committed budget")
    return max(1.0, min(statistics.median(ratios), HOST_FACTOR_CAP))


def main(argv):
    # argv[1] is always a capture path; further leading non-flag args
    # are additional captures (gated on the per-query min)
    captures = [argv[1]]
    i = 2
    while i < len(argv) and not argv[i].startswith("--"):
        captures.append(argv[i])
        i += 1
    flags = argv[i:]
    update = "--update" in flags
    median = "--median" in flags
    reverify = None
    if "--reverify" in flags:
        j = flags.index("--reverify")
        if j + 1 >= len(flags) or flags[j + 1].startswith("--"):
            raise SystemExit("--reverify requires a report path argument")
        reverify = flags[j + 1]

    history_tag = None
    if "--history-tag" in flags:
        j = flags.index("--history-tag")
        if j + 1 >= len(flags) or flags[j + 1].startswith("--"):
            raise SystemExit("--history-tag requires a tag argument (rN)")
        history_tag = flags[j + 1]

    queries, crashed, sfs, mbytes, mmem = merge_captures(captures)
    if update:
        if crashed:
            raise SystemExit("refusing to record budgets: failed queries "
                             + ", ".join(f"{n} (in {', '.join(ps)})"
                                         for n, ps in sorted(crashed.items())))
        bad_sf = [s for s in sfs if not s.endswith("sf0.1")]
        if bad_sf:
            raise SystemExit(f"refusing to record budgets from sf={bad_sf[0]!r}: "
                             "budgets are defined at sf0.1")
        old = load_budget(BUDGET)
        adjudicated = reverified_queries(reverify) if reverify else set()
        h = host_factor(queries, old) if median else 1.0
        if median:
            print(f"host factor {h:.3f} "
                  f"(median of {len(queries)} rows)")
        unjustified = []
        for name in sorted(queries):
            if name in old and queries[name] / h > RAISE_CAP * old[name] \
                    and name not in adjudicated:
                unjustified.append(
                    f"{name}: {queries[name]:.2f}s"
                    + (f" (/{h:.2f} host = {queries[name] / h:.2f}s)"
                       if median else "")
                    + f" > {RAISE_CAP}x committed "
                    f"floor {old[name]:.2f}s with no isolated-reverify line"
                    + (f" in {reverify}" if reverify else
                       " (--reverify not given)"))
        if unjustified:
            for u in unjustified:
                print(f"REFUSED {u}")
            raise SystemExit(
                f"refusing to raise {len(unjustified)} floor(s) past "
                f"{RAISE_CAP}x without adjudication evidence — re-time each "
                "isolated (fresh JVM) into the round's bench_reverify "
                "report and pass it via --reverify")
        # a partial capture must not silently ERASE committed floors
        # (check mode flags 'in budget but not benched'; update mode
        # must refuse the same hole, or the raise guard loses its
        # committed predecessor next round)
        dropped = sorted(set(old) - set(queries))
        if dropped:
            for name in dropped:
                print(f"REFUSED {name}: committed floor {old[name]:.2f}s "
                      "absent from the capture — partial captures cannot "
                      "erase floors")
            raise SystemExit(
                f"refusing to drop {len(dropped)} committed floor(s) not "
                "present in the capture; bench the full surface (or remove "
                "the retired query from the budget by hand, stating why)")
        # Non-circular evidence BEFORE re-recording: every row that
        # regressed vs the PRIOR committed floors prints here, so the
        # update transcript itself carries the gate-vs-previous-round
        # table even when same-round floors would absorb it (round-16
        # verdict: floor-basis circularity).
        prior_regressions = [
            f"PRIOR-FLOOR REGRESSION {name}: {queries[name] / h:.2f}s "
            f"> {THRESHOLD}x prior floor {old[name]:.2f}s"
            + (" [adjudicated]" if name in adjudicated else "")
            for name in sorted(queries)
            if name in old and queries[name] / h > THRESHOLD * old[name]]
        for line in prior_regressions:
            print(line)
        print(f"vs prior floors: {len(prior_regressions)} row(s) past "
              f"{THRESHOLD}x before re-recording")
        # commit the NORMALIZED time: the value the raise guard
        # adjudicated is the value that becomes the floor (committing
        # raw host-inflated times would ratchet every future gate
        # looser by h — the round-16 ADVICE hole)
        with open(BUDGET, "w") as f:
            for name in sorted(queries):
                f.write(f"{name}\t{queries[name] / h:.3f}\n")
        if mbytes:
            with open(BYTES_BUDGET, "w") as f:
                for name in sorted(queries):
                    f.write(f"{name}\t{mbytes.get(name, 0)}\t"
                            f"{mmem.get(name, 0)}\n")
            print(f"recorded {len(queries)} resource budgets to "
                  f"{BYTES_BUDGET}")
        if history_tag:
            with open(HISTORY, "a") as f:
                for name in sorted(queries):
                    f.write(f"{history_tag}\t{name}\t{queries[name] / h:.3f}\n")
            print(f"appended {len(queries)} floors to {HISTORY} "
                  f"as {history_tag}")
        print(f"recorded {len(queries)} budgets to {BUDGET}"
              + (f" (normalized /{h:.3f})" if median and h > 1 else ""))
        return 0
    budget = load_budget(BUDGET)
    # a crash in EVERY capture always fails; a crash in SOME captures
    # (merged still holds the successful sibling's time) clears only
    # with an isolated-reverify adjudication line for that query
    check_adjudicated = reverified_queries(reverify) if reverify else set()
    failures = []
    for n, ps in sorted(crashed.items()):
        where = ", ".join(ps)
        if n not in queries:
            failures.append(f"{n}: FAILED in every capture ({where})")
        elif n in check_adjudicated:
            print(f"NOTE {n}: crashed in {where}, cleared by the "
                  f"successful sibling capture + isolated reverify line")
        else:
            failures.append(
                f"{n}: FAILED in {where} (sibling capture succeeded — "
                "re-run isolated and pass the adjudication via --reverify "
                "to clear a transient host failure)")
    if sfs and sfs[0].endswith("sf0.1"):
        h = host_factor(queries, budget) if median else 1.0
        if median:
            print(f"host factor {h:.3f} "
                  f"(median of {len(queries)} rows)")
        if len(captures) > 1:
            print(f"gating on per-query min over {len(captures)} captures")
        for name in sorted(set(queries) | set(budget)):
            # crashed rows were already reported above; a cleared one
            # (sibling success + reverify) still gates on its min time
            if name in crashed and (name not in queries
                                    or name not in check_adjudicated):
                continue
            if name not in budget:
                failures.append(f"{name}: NEW query, no recorded budget")
            elif name not in queries:
                failures.append(f"{name}: in budget but not benched")
            elif queries[name] / h > THRESHOLD * budget[name]:
                failures.append(
                    f"{name}: {queries[name]:.2f}s"
                    + (f" (/{h:.2f} host = {queries[name] / h:.2f}s)"
                       if median else "")
                    + f" > {THRESHOLD}x budget {budget[name]:.2f}s")
        # resource gate: NO host normalization (bytes are plan-shape
        # facts, not host noise); generous multiple + absolute slack
        bbudget = load_bytes_budget(BYTES_BUDGET)
        for name in sorted(set(mbytes) & set(bbudget)):
            fb, fm = bbudget[name]
            if mbytes[name] > BYTES_MULT * fb + BYTES_SLACK:
                failures.append(
                    f"{name}: shuffle {mbytes[name] / 1e6:.1f} MB > "
                    f"{BYTES_MULT}x budget {fb / 1e6:.1f} MB + slack")
            if name in mmem and mmem[name] > BYTES_MULT * fm + MEM_SLACK:
                failures.append(
                    f"{name}: peak task mem {mmem[name] / 1e6:.1f} MB > "
                    f"{BYTES_MULT}x budget {fm / 1e6:.1f} MB + slack")
    else:
        print(f"sf={sfs[0]!r} is not the recorded budget scale (sf0.1); "
              "checking only for failed queries")
    for f in failures:
        print(f"FAIL {f}")
    print(f"{len(queries) - len(failures)}/{len(queries)} queries within "
          f"{THRESHOLD}x budget")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
