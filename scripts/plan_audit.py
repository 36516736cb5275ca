"""Full-surface physical-plan signature audit (the plan-regression gate).

test_plans.py pins the handful of 100 TB-critical plan properties by
hand (pushdown, broadcast dims, partial aggregation, no global top-k
sort). This script generalizes that to the WHOLE registry: for every
query key it captures a normalized signature of the physical plan —
operator counts, per-scan pushed-filter presence and read-schema width,
and the Python-evaluation operators in the plan — and writes them to
``PLAN_SIGNATURES.json`` at the repo root.

The committed JSON is a *contract*: ``tests/test_plan_signatures.py``
re-derives every signature and fails on any diff, so a silent plan
regression anywhere on the 138-key surface (a broadcast that became a
shuffle, a filter that stopped reaching the scan, a scan that started
reading every column, a join that degenerated into a cartesian, a new
row-at-a-time Python eval) fails loudly with a readable per-key diff —
the same drift posture TESTDATA_TYPES.json gives the input schemas.

Signatures are captured at sf0.001 under the production session
(``session.py``: ANSI off, UTC, AQE on). Two notes on what a signature
is and is not:

- It reflects the plan *before* execution (``AdaptiveSparkPlan
  isFinalPlan=false``): the deterministic Catalyst output for this
  code + config + input stats. AQE runtime re-plans (partition
  coalescing, skew splits) are invisible here by design — they vary
  with data, the contract must not.
- Broadcast-vs-shuffle choices reflect sf0.001 file sizes where the
  plan leaves the choice to stats; the at-scale assertions live in
  test_plans.py (explicit-hint keys pin their strategy regardless).
  The gate's job is *change detection*, not at-scale shape.

Keys whose construction replays a stream or performs writes still
capture fine — the signature is of the DataFrame the key RETURNS (for
a streaming replay that is the batch read-back of the sink, which is
exactly what the downstream consumer sees).

Usage:
    python scripts/plan_audit.py --write   # (re)generate the contract
    python scripts/plan_audit.py           # derive + diff vs committed
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SIG_PATH = os.path.join(_REPO, "PLAN_SIGNATURES.json")
SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")

# Details-section node header: "(3) Filter [codegen id : 1]" → "Filter".
_NODE_RE = re.compile(r"^\((\d+)\)\s+([A-Za-z][A-Za-z0-9 ]*?)(?:\s*\[codegen[^\]]*\])?\s*$")
_PY_OPS = frozenset({
    "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
    "MapInPandas", "FlatMapGroupsInPandasWithState", "PythonMapInArrow",
    "InMemoryTableScan",  # not python, but worth tracking distinctly
})


def _read_schema_width(line: str) -> int:
    """Top-level field count of a ``ReadSchema: struct<...>`` line."""
    body = line.split("struct<", 1)[1] if "struct<" in line else ""
    depth, fields = 0, 0
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            fields += 1
    return fields + 1 if body else 0


def signature(df) -> dict:
    """Normalized physical-plan signature of ``df`` (driver-side only)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()

    ops: dict[str, int] = {}
    seen_ids: set[str] = set()
    for line in text.splitlines():
        m = _NODE_RE.match(line.strip())
        if not m:
            continue
        node_id, name = m.group(1), m.group(2).strip()
        # the tree section repeats node names; details headers are the
        # unique "(n) Name" lines — dedupe on the id
        if node_id in seen_ids:
            continue
        seen_ids.add(node_id)
        ops[name] = ops.get(name, 0) + 1

    scans = []
    for line in text.splitlines():
        s = line.strip()
        if s.startswith("PushedFilters:"):
            scans.append({"pushed": s != "PushedFilters: []"})
        elif s.startswith("ReadSchema:") and scans:
            scans[-1]["cols"] = _read_schema_width(s)

    python_ops = sorted(k for k in ops if k in _PY_OPS and k != "InMemoryTableScan")
    return {"ops": dict(sorted(ops.items())), "scans": scans, "python": python_ops}


def derive_all(spark, keys=None) -> dict[str, dict | str]:
    from nyc_taxi_data_engineering_project_spark import registry

    registry.load_all()
    out: dict[str, dict | str] = {}
    for key in sorted(keys or registry.QUERIES):
        try:
            out[key] = signature(registry.QUERIES[key](spark, SF_DIR))
        except Exception as exc:  # a key that cannot construct is itself a regression
            out[key] = f"ERROR: {type(exc).__name__}: {exc}"
    return out


def diff_signatures(old: dict, new: dict) -> list[str]:
    lines = []
    for key in sorted(set(old) | set(new)):
        if key not in old:
            lines.append(f"{key}: NEW KEY (not in committed contract)")
        elif key not in new:
            lines.append(f"{key}: MISSING (in contract, not derived)")
        elif old[key] != new[key]:
            o, n = old[key], new[key]
            detail = []
            if isinstance(o, dict) and isinstance(n, dict):
                oo, no = o.get("ops", {}), n.get("ops", {})
                for op in sorted(set(oo) | set(no)):
                    if oo.get(op, 0) != no.get(op, 0):
                        detail.append(f"{op} {oo.get(op, 0)}→{no.get(op, 0)}")
                if o.get("scans") != n.get("scans"):
                    detail.append(f"scans {o.get('scans')}→{n.get('scans')}")
                if o.get("python") != n.get("python"):
                    detail.append(f"python {o.get('python')}→{n.get('python')}")
            else:
                detail.append(f"{o!r} → {n!r}")
            lines.append(f"{key}: {'; '.join(detail)}")
    return lines


def main() -> int:
    from nyc_taxi_data_engineering_project_spark.session import get_session

    spark = get_session("plan-audit", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    try:
        derived = derive_all(spark)
        if "--write" in sys.argv:
            with open(SIG_PATH, "w") as f:
                json.dump(derived, f, indent=1, sort_keys=True)
                f.write("\n")
            errs = [k for k, v in derived.items() if isinstance(v, str)]
            print(f"wrote {len(derived)} signatures to {SIG_PATH}"
                  + (f" ({len(errs)} ERROR keys: {errs})" if errs else ""))
            return 1 if errs else 0
        with open(SIG_PATH) as f:
            committed = json.load(f)
        diffs = diff_signatures(committed, derived)
        for d in diffs:
            print(d)
        print("PLAN DRIFT" if diffs else "ALL OK")
        return 1 if diffs else 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
