"""Self-test: a planted wrong answer must be counted as a failure.

    python3 perfbench/selftest.py

Runs a short ``serve_tail`` window twice, once clean and once with
``--plant-error`` (one answer corrupted before the oracle check), and checks
that the clean run reports ``failed == 0`` and the planted run ``failed == 1``
with ``correct`` false.  Exits non-zero on any mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def result(*extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", "serve_tail", "--seed", "7", "--seconds", "2",
         "--trace", "0", *extra],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    clean = result()
    planted = result("--plant-error")
    ok = (
        clean["correct"] and clean["failed"] == 0
        and not planted["correct"] and planted["failed"] == 1
        and planted["attempted"] >= 1
    )
    print(json.dumps({"clean": {k: clean[k] for k in ("correct", "attempted", "failed")},
                      "planted": {k: planted[k] for k in ("correct", "attempted", "failed")},
                      "ok": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
