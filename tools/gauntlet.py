"""Round-end gauntlet: the mechanical pre-snapshot gate.

Rounds 6-8 relied on the builder remembering to run the full test
suite, the full-catalog oracle sweep, the bench CLI and the docs
refresh before the snapshot commit; round 8 shipped two broken catalog
entries because that memory failed. This script IS the checklist —
run it, read the table, do not snapshot on any FAIL:

    python tools/gauntlet.py --round 9 [--fast]

Steps (each timed, each with an unambiguous PASS/FAIL):
  1. registration integrity — every catalog entry name-matches its
     function and takes (spark, sf_dir) (import-time guard + AST scan)
  2. full pytest (~14 min; --fast keeps -x and skips nothing else)
  3. full-catalog oracle sweep at sf0.1 (sf0.01 with --fast)
  4. bench.py — must exit 0 and print one JSON line with the driver's
     keys (this alone would have caught the round-8 registration bug)
  5. docs gate — tools/regen_docs.py --round N

Every step's FULL stdout+stderr is teed to
/tmp/gauntlet_r{N}_{step}.log (VERDICT r11 #2: the round-11 sweep
flake could not be attributed to an entry because only a 2-line tail
survived), and a failing sweep/pytest step surfaces its FAIL lines —
entry/test names — in the summary table.

FLAKE POLICY (established round 11, printed on failure): a gauntlet
step that fails is re-run ONCE standalone on the identical tree
before it counts as a regression — the shared-box environment has
produced one proven sweep flake (green 203/203 standalone after a
FAILED in-gauntlet run). A SECOND failure is real; for bm25-family
single-entry failures see DETERMINISM.md #7 (float-boundary suspect).

Total wall ~25-30 min. Exit code = number of failed steps.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(
    name: str, cmd: list[str], check, log_path: str
) -> tuple[str, bool, float, str, str]:
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    dt = time.time() - t0
    with open(log_path, "w") as fh:
        fh.write(f"$ {' '.join(cmd)}\nexit {proc.returncode} in {dt:.1f}s\n")
        fh.write("---- stdout ----\n" + proc.stdout)
        fh.write("\n---- stderr ----\n" + proc.stderr)
    ok, detail = check(proc)
    return name, ok, dt, detail, log_path


def _fail_lines(p, pattern: str, limit: int = 8) -> list[str]:
    """The per-item FAIL lines from a step's output — the names are
    the whole point of keeping them (a tally alone forces a blind
    full rerun to find the failing entry)."""
    out = []
    for ln in (p.stdout + "\n" + p.stderr).splitlines():
        if re.search(pattern, ln):
            out.append(ln.strip())
        if len(out) >= limit:
            break
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument(
        "--fast",
        action="store_true",
        help="sweep at sf0.01 instead of sf0.1 (iteration mode; the "
        "real round-end run must be un-fast)",
    )
    args = ap.parse_args()
    py = sys.executable
    results = []

    def log(step):
        return f"/tmp/gauntlet_r{args.round}_{step}.log"

    def tail(p, n=3):
        return " | ".join((p.stdout + p.stderr).strip().splitlines()[-n:])

    results.append(
        run(
            "integrity",
            [py, "-c",
             "from iheardai_data_pipeline_spark.plans.catalog import "
             "query_map; q = query_map(); print(len(q), 'entries')"],
            lambda p: (p.returncode == 0, tail(p, 1)),
            log("integrity"),
        )
    )
    print(f"[1/5] integrity: {'PASS' if results[-1][1] else 'FAIL'}")

    def pytest_check(p):
        if p.returncode == 0:
            return True, tail(p, 2)
        fails = _fail_lines(p, r"^(FAILED|ERROR) ")
        return False, "; ".join(fails) if fails else tail(p, 2)

    results.append(
        run(
            "pytest",
            [py, "-m", "pytest", "tests/", "-q", "-x",
             "-p", "no:cacheprovider"],
            pytest_check,
            log("pytest"),
        )
    )
    print(f"[2/5] pytest: {'PASS' if results[-1][1] else 'FAIL'}")

    sf = "/root/testdata/sf0.01" if args.fast else "/root/testdata/sf0.1"

    def sweep_check(p):
        # parse the "N/N green" tally explicitly (ADVICE r9: the old
        # '"0 FAILED" not in tail' clause was dead logic — sweep_oracle
        # prints 'FAILED: <names>', never a '0 FAILED' tally)
        m = re.search(r"(\d+)/(\d+) green", p.stdout + p.stderr)
        ok = (
            p.returncode == 0
            and m is not None
            and m.group(1) == m.group(2)
            and int(m.group(2)) > 0
        )
        if ok:
            return True, m.group(0)
        # surface the failing ENTRY NAMES, not just the tally —
        # per-entry lines carry FAIL/ERR markers, and the final
        # 'FAILED: <names>' tally lists them again
        fails = _fail_lines(p, r"\b(FAIL|ERR)\b|^FAILED:")
        parts = ([m.group(0)] if m else []) + fails
        return False, "; ".join(parts) if parts else tail(p, 2)

    results.append(
        run("sweep", [py, "tools/sweep_oracle.py", sf], sweep_check,
            log("sweep"))
    )
    print(f"[3/5] sweep@{os.path.basename(sf)}: "
          f"{'PASS' if results[-1][1] else 'FAIL'}")

    def bench_check(p):
        if p.returncode != 0:
            return False, tail(p, 3)
        try:
            line = json.loads(p.stdout.strip().splitlines()[-1])
        except (json.JSONDecodeError, IndexError):
            return False, "no JSON line on stdout"
        want = {"metric", "value", "unit", "queries", "sf"}
        miss = want - set(line)
        return (
            not miss,
            f"{line.get('value')}s over {len(line.get('queries', {}))} "
            f"queries" if not miss else f"missing keys {miss}",
        )

    results.append(run("bench", [py, "bench.py"], bench_check, log("bench")))
    print(f"[4/5] bench: {'PASS' if results[-1][1] else 'FAIL'}")

    results.append(
        run(
            "docs",
            [py, "tools/regen_docs.py", "--round", str(args.round)],
            lambda p: (p.returncode == 0, tail(p, 3)),
            log("docs"),
        )
    )
    print(f"[5/5] docs: {'PASS' if results[-1][1] else 'FAIL'}")

    print("\n== gauntlet ==")
    failed = 0
    for name, ok, dt, detail, log_path in results:
        status = "PASS" if ok else "FAIL"
        failed += 0 if ok else 1
        print(f"  {status}  {name:<10} {dt:7.1f}s  {detail}")
        print(f"        log: {log_path}")
    if failed == 0:
        print("SNAPSHOT OK")
    else:
        print(f"{failed} step(s) FAILED — do not snapshot")
        print(
            "FLAKE POLICY: re-run each failed step ONCE standalone on "
            "the identical tree before treating it as a regression "
            "(round-11 precedent: one in-gauntlet sweep FAIL, standalone "
            "green). A second failure is real. Full output is in the "
            "step's /tmp log above."
        )
    return failed


if __name__ == "__main__":
    raise SystemExit(main())
