#!/usr/bin/env python3
"""Harness smoke test at the smallest input sizes; run from the
repository root:

    python3 perfbench/smoke.py

For each workload it runs one operation untraced and traced and checks
that every end-to-end and per-layer metric is reported, by name, with
its unit, and that the run is correct (the second export of the
release must reproduce the first one's bytes). It then shows each
correctness gate rejecting a corrupted output: a truncated Turtle part
file, which also changes the export's bytes; a query result with a
wrong checksum or row count; an intake state holding a repeated text;
and admitted ids that differ from the first run's. Exits 0 when all
checks pass.
"""

from __future__ import annotations

import glob
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def check_result(res: dict, units: dict[str, str], label: str) -> None:
    metrics = res["metrics"]
    check(res["correct"] and res["failed"] == 0, f"{label}: correct, no failures")
    check(res["attempted"] >= 1, f"{label}: attempted >= 1")
    check(set(metrics) == set(units), f"{label}: every metric named")
    check(
        all(metrics[n]["unit"] == u for n, u in units.items()),
        f"{label}: every metric has its unit",
    )


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import harness
    import intake
    import oracle

    harness.configure_environment()

    small = {
        "umls_export": lambda: harness.ExportWorkload(n_concepts=300),
        "corpus_curation": lambda: harness.QueryWorkload(
            ["split_assign"], sf=0.001, intake=True
        ),
    }
    for name, make in small.items():
        for traced in (False, True):
            out = harness.execute(make(), name, 1, 0, traced)
            units = harness.PER_LAYER_UNITS if traced else harness.E2E_UNITS
            check_result(out["result"], units, f"{name} trace={int(traced)}")
            check("error_rate" in out["meta"], f"{name}: error_rate reported")

    # each gate on a deliberately corrupted output
    w = harness.ExportWorkload(n_concepts=300)
    q = harness.QueryWorkload(["split_assign"], sf=0.001)
    r = harness.Run("umls_export", 1, False)
    w.prepare(r)
    q.prepare(r)
    os.makedirs(r.work, exist_ok=True)
    try:
        r.start(w.program)
        out_dir = os.path.join(r.work, "out")
        w.export(r, out_dir, w.conf)
        errors = harness.check_export(r.spark, w.rrf_dir, out_dir, w.expected)
        check(errors == [], "export gate accepts a good export")
        check(w.digest_gate(out_dir) is None,
              "digest gate accepts an export equal to the earlier runs'")
        part = max(
            glob.glob(os.path.join(out_dir, "SNOMEDCT.ttl", "part-*")),
            key=os.path.getsize,
        )
        with open(part, "rb+") as fh:
            fh.truncate(os.path.getsize(part) // 2)
        # drop the checksum file too, so the validator reads the text
        crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        errors = harness.check_export(r.spark, w.rrf_dir, out_dir, w.expected)
        check(any("SNOMEDCT.ttl" in e for e in errors),
              "export gate rejects a truncated part file")
        check(w.digest_gate(out_dir) is not None,
              "digest gate rejects an export that differs from the earlier runs'")

        import __spark_entry__ as entry

        want = q.want["split_assign"]
        result = entry.queries()["split_assign"](r.spark, q.data_dir).toPandas()
        check(oracle.mismatch(oracle.summarize(result), want) is None,
              "query gate accepts the right result")
        wrong = result.copy()
        col = wrong.columns[0]
        wrong[col] = wrong[col].astype(str) + "x"
        check(oracle.mismatch(oracle.summarize(wrong), want) == "values differ",
              "query gate rejects a wrong checksum")
        check(oracle.mismatch(oracle.summarize(result.iloc[1:]), want) is not None,
              "query gate rejects a wrong row count")

        import pyarrow.parquet as pq

        epochs = harness.intake_epochs(1, q.sf)
        name = f"intake-sf{q.sf}-1"
        probe = intake.Intake(epochs, os.path.join(r.work, "intake"))
        gate = probe.body(r, lambda v: harness.same_as_reference(name, v))
        check(gate() is None, "intake gates accept the earlier runs' admissions")
        check(
            harness.same_as_reference(name, [d[::-1] for d in probe.reference_value()])
            is not None,
            "intake gate rejects admitted ids that differ from the earlier runs'",
        )
        first = sorted(glob.glob(os.path.join(r.work, "intake", "corpus", "*", "*.parquet")))[0]
        pq.write_table(pq.read_table(first), os.path.join(os.path.dirname(first), "copy.parquet"))
        check(gate() is not None and "repeat" in gate(),
              "intake gate rejects a state with a repeated text")
    finally:
        r.stop()
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
