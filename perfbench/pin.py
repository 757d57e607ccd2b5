#!/usr/bin/env python3
"""Record the pinned outputs that the output checks compare against.

    python3 perfbench/pin.py

Runs ``validate_pages`` once and every input variant of
``curate_dolma_dsir`` once, and writes what each pass produced to
``perfbench/pins.json``. Re-run it only when a change is meant to alter
these outputs (or the workload sizes), and say so in the change. Only the
library part of ``validate_pages`` is pinned; its incremental part is checked
against a plain ``validate()`` computed after set-up.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.run import WORK, configure_env, start_spark, stop_session, sweep  # noqa: E402


def main() -> int:
    work = WORK / f"pin-{os.getpid()}"
    configure_env(work)
    from perfbench.workloads import PINS, CurateDolmaDsir, ValidatePages

    spark = start_spark(work)
    pins = {}
    try:
        wl = ValidatePages(spark, work, 0)
        wl.setup()
        wl.prepare()
        pins[wl.name] = wl.observe(wl.run(0))["full"]
        variants = {}
        for v in range(CurateDolmaDsir.VARIANTS):
            wl = CurateDolmaDsir(spark, work, v)
            wl.setup()
            wl.prepare()
            variants[str(v)] = wl.observe(wl.run(0))
            sweep(spark)
            print(f"variant {v}: {variants[str(v)]}", file=sys.stderr)
        pins[CurateDolmaDsir.name] = variants
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    print(f"wrote {PINS}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
