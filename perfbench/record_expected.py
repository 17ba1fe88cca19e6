#!/usr/bin/env python3
"""Regenerate perfbench/expected.json from the current program.

    python3 perfbench/record_expected.py

Runs `batch` and `ingest` twice (seeds 1 and 2) and records each
key's row count and checksum and each ingest slice's store growth. A key
whose checksum differs between the two runs keeps its row count only.
Run it only on a commit whose outputs match the DuckDB oracle
(tools/localverify.py at the data's scale); see perfbench/NOTES.md.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def main():
    keys, ingest = {}, {}
    for seed in (1, 2):
        for w in ("batch", "ingest"):
            code, records, _, _ = run.execute(w, seed, 0, 0)
            if code != 0:
                run.fail(f"{w} failed while recording")
            for r in records:
                if r["t"] == "check":
                    if r["error"]:
                        run.fail(f"{r['key']}: {r['error']}")
                    old = keys.setdefault(r["key"], {"rows": r["rows"], "checksum": r["checksum"]})
                    if old["rows"] != r["rows"]:
                        run.fail(f"{r['key']}: row count differs between runs")
                    if old["checksum"] != r["checksum"]:
                        print(f"{r['key']}: checksum differs between runs; rows only",
                              file=sys.stderr)
                        old["checksum"] = None
                elif r["t"] == "batch":
                    slot = ingest.setdefault(r["ingest"], {})
                    if slot.setdefault(str(r["slice"]), r["growth"]) != r["growth"]:
                        run.fail(f"{r['ingest']} slice {r['slice']}: growth differs")
    expected = {"keys": dict(sorted(keys.items())), "ingest": ingest}
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
