"""One-command round-close artifact generator.

The recurring round-N defect class (r8: SWEEP under-enumerated; r9: no
closing sweep at all; r7-r9: BENCH/CORRECTNESS untracked at close) is
process, not engineering — this tool makes the closing checklist a single
command so it cannot be half-done:

  python tools/round_close.py <round_number>

runs, in order, each against the CURRENT tree:

1. full oracle sweep at sf0.01 → SWEEP_r{N}.txt (via tools/check.py
   --out, which asserts one status line per registered query);
2. full oracle sweep at sf0.1 (stress scale), appending its summary line
   to the same artifact (the r8 precedent format);
3. full oracle sweep at sf0.01 with ``SPARK_GRAFT_CHECK_REUSE=1`` (every
   query checked again through its prepared plan — the proof that the
   registry's plan cache returns the same rows), appending its summary
   line too;
4. artifact-contract pytest (tests/test_bench_contract.py) against the
   tree AS IT STANDS — i.e. including any bench/sweep records just
   written.  The r12 defect was exactly this sequencing hole: pytest ran
   BEFORE the closing bench artifact was committed, so a malformed
   BENCH_r12_builder.json landed red.  Rule: any time a root BENCH_r*
   or SWEEP_r* artifact is added/renamed, re-run this tool (or at least
   step 3) AFTER staging it and before the final commit.  Builder-side
   bench records that are not single-JSON contract documents belong in
   records/ (e.g. records/BENCH_r12_builder.jsonl), never in the root
   BENCH_r*.json driver namespace;
5. exits non-zero if any step failed.

bench.py and PLAN_AUDIT refresh stay separate commands (the bench must
run on an otherwise-idle host, and the plan audit is cheap to run solo):

  PYTHONPATH=. python tools/plan_audit.py /root/testdata/sf0.01 PLAN_AUDIT.json
  python bench.py          # quiet host; commit the printed lines' source

Each sweep runs in a SUBPROCESS so every sweep gets a fresh session, as
a plain ``python tools/check.py`` run does.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _summary_sweep(
    out: str, check: str, sf_dir: str, env: dict[str, str], title: str
) -> int:
    """Run ``check.py`` over ``sf_dir`` with ``env`` added, append its
    summary line to ``out`` under ``# title:``, return its exit code."""
    run = subprocess.run(
        [sys.executable, check, sf_dir],
        cwd=ROOT,
        env={**os.environ, **env},
        capture_output=True,
        text=True,
    )
    tail = [
        line for line in run.stdout.strip().splitlines() if line.endswith(sf_dir)
    ]
    with open(out, "a") as fh:
        fh.write(f"# {title}:\n")
        fh.write((tail[-1] if tail else "MISSING SUMMARY") + "\n")
    return run.returncode


def main() -> int:
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        print("usage: python tools/round_close.py <round_number>")
        return 2
    n = int(sys.argv[1])
    out = os.path.join(ROOT, f"SWEEP_r{n:02d}.txt")
    check = os.path.join(ROOT, "tools", "check.py")

    rc1 = subprocess.run(
        [sys.executable, check, "--out", out, "/root/testdata/sf0.01"],
        cwd=ROOT,
    ).returncode

    # Stress sweep at sf0.1 (10x the sf0.01 scale), then the
    # prepared-plan reuse sweep: run fully, append only the summary line (r8 artifact
    # format); per-query lines live in the sf0.01 section, which the
    # count assertion already guards.
    rc2 = _summary_sweep(
        out, check, "/root/testdata/sf0.1", {},
        "Stress sweep at sf0.1, 10x the sf0.01 scale (same tree)",
    )
    rc_reuse = _summary_sweep(
        out, check, "/root/testdata/sf0.01", {"SPARK_GRAFT_CHECK_REUSE": "1"},
        "Prepared-plan reuse sweep, SPARK_GRAFT_CHECK_REUSE=1 (same tree)",
    )

    # Artifact-contract guard AFTER the artifacts exist on disk (r12
    # lesson: running pytest before the bench record lands lets a
    # malformed root BENCH_r*.json slip through green).
    rc3 = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_bench_contract.py", "-q"],
        cwd=ROOT,
    ).returncode

    print(f"\nround-close artifact written: {out}")
    print(
        f"sf0.01 rc={rc1}  sf0.1 rc={rc2}  reuse rc={rc_reuse}  "
        f"artifact-contract rc={rc3}"
    )
    return rc1 or rc2 or rc_reuse or rc3


if __name__ == "__main__":
    sys.exit(main())
