"""Regenerate OPERATORS.md from the live query registry.

Usage: python tools/gen_operators_md.py
"""

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry

HEADER = """# OPERATORS — the query/operator registry

Every entry in `__spark_entry__.queries()`, its plan module, and its
verification tier. *exact oracle* = value-level hash match against the
DuckDB oracle at sf0.01 (driver + `tests/test_oracle_parity.py`);
*rows-only* = approximate or binary-producing op whose values are
verified against its exact counterpart (or a golden) in pytest.
Each round the driver correctness-checks the 50 entries whose last
verdict in the committed `CORRECTNESS_r*.json` files is oldest
(`__spark_entry__._driver_window`); every entry is covered by the
pytest oracle suite and `tools/driver_sim.py`.

Generated from the registry docstrings, sorted by name; regenerate
after adding a query (`python tools/gen_operators_md.py`).

| query | module | verification | what it does |
|---|---|---|---|
"""


def render() -> str:
    """OPERATORS.md's text for the current registry."""
    queries, oracles = entry._registry()
    lines = []
    for name, fn in sorted(queries.items()):
        para = (inspect.getdoc(fn) or "").split("\n\n")[0]
        doc = " ".join(para.split())
        if len(doc) > 160:
            doc = doc[:157].rsplit(" ", 1)[0] + "…"
        mod = fn.__module__.replace("ha_sqllite_2_influxdb_spark.plans.", "")
        tier = ("exact oracle" if name in oracles
                else "rows-only (pytest-verified)")
        lines.append(
            f"| `{name}` | {mod} | {tier} | "
            f"{doc.replace('|', chr(92) + '|')} |"
        )
    return HEADER + "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "OPERATORS.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
