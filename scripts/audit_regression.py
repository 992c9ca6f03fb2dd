#!/usr/bin/env python
"""Round-end audit regression gate (VERDICT r17 item 9): re-run the
registry-wide scan-count and ReadSchema audits and DIFF the result
against the committed reference JSONs, so a new or reshaped gate cannot
silently reintroduce multi-scan / wide-read defects.

Reports, per gate, any of:
- a base table's plan scan count INCREASED vs the reference,
- a wide-column flag (documents.text / embeddings.embedding) appeared
  on a gate that had none,
- a gate newly erroring in either audit.
New gates (absent from the reference) are listed for adjudication, not
failed. Decreases are reported as improvements.

Usage: python scripts/audit_regression.py <ref_scan.json> <ref_readschema.json> [out_prefix]
Exit code 1 when regressions were found.
"""
from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def main() -> None:
    ref_scan = json.loads(Path(sys.argv[1]).read_text())
    ref_rs = json.loads(Path(sys.argv[2]).read_text())
    prefix = sys.argv[3] if len(sys.argv) > 3 else str(REPO / "plans/r18/audit_regression")
    new_scan_path = f"{prefix}_scan.json"
    new_rs_path = f"{prefix}_readschema.json"
    subprocess.run(
        [sys.executable, str(REPO / "scripts/scan_audit.py"), new_scan_path],
        check=True,
    )
    subprocess.run(
        [sys.executable, str(REPO / "scripts/readschema_audit.py"), new_rs_path],
        check=True,
    )
    new_scan = json.loads(Path(new_scan_path).read_text())
    new_rs = json.loads(Path(new_rs_path).read_text())

    regressions, improvements, new_gates = [], [], []
    for name, entry in new_scan.items():
        ref = ref_scan.get(name)
        if ref is None:
            new_gates.append(name)
            continue
        if "error" in entry and "error" not in ref:
            regressions.append(f"{name}: scan audit now errors: {entry['error']}")
            continue
        tables = set(entry.get("scans") or {}) | set(ref.get("scans") or {})
        for tbl in tables:
            n = (entry.get("scans") or {}).get(tbl, 0)
            r = (ref.get("scans") or {}).get(tbl, 0)
            if n > r:
                regressions.append(f"{name}: {tbl} scans {r} -> {n}")
            elif n < r:
                improvements.append(f"{name}: {tbl} scans {r} -> {n}")
    for name, entry in new_rs.items():
        ref = ref_rs.get(name)
        if ref is None:
            continue
        if "error" in entry and "error" not in ref:
            regressions.append(f"{name}: ReadSchema audit now errors: {entry['error']}")
            continue
        nf, rf = entry.get("wide_flags", 0), ref.get("wide_flags", 0)
        if nf > rf:
            regressions.append(f"{name}: wide-column flags {rf} -> {nf}")

    report = {
        "regressions": regressions,
        "improvements": improvements,
        "new_gates_to_adjudicate": new_gates,
    }
    Path(f"{prefix}_diff.json").write_text(json.dumps(report, indent=1))
    print(json.dumps(report, indent=1))
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
