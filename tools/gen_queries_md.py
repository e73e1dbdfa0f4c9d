"""Re-emit QUERIES.md from registry docstrings (one row per registered
query, first docstring sentence-block flattened and truncated). Run after
any query changes so the index never drifts from the registry."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_bulkload_service_spark import registry  # noqa: E402

HEADER = """# QUERIES.md — the full registered query surface

Generated by tools/gen_queries_md.py from registry docstrings — re-run
it when queries change. Every entry is a `__spark_entry__.queries()`
key the external driver can verify; since round 8 EVERY entry
carries an exact DuckDB oracle (zero rows-only queries).

| Query | Summary |
|---|---|
"""

MAXLEN = 220


def _summary(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    flat = re.sub(r"\s+", " ", doc)
    if len(flat) > MAXLEN:
        flat = flat[:MAXLEN].rstrip() + "..."
    return flat.replace("|", "\\|")


def render() -> str:
    """QUERIES.md's text: one row per registered query, then the retired
    entries."""
    out = [HEADER]
    for name, fn in registry.QUERIES.items():
        out.append(f"| `{name}` | {_summary(fn)} |\n")
    # retired entries stay documented so the numbering gaps are explained
    out.append(
        "| `q73_sketch_profile` | RETIRED round 8: was the registry's only "
        "rows-only entry; raw sketch outputs are engine-specific, and "
        "q115_sketch_accuracy hash-gates the same production operator |\n"
    )
    out.append(
        "| `q116_hfl2_container` | RETIRED round 8: HFL2 stand-in container "
        "gate, superseded by the real HFile v3 gates (q167/q169/q170/q221); "
        "the stand-in container is deleted and its layout invariants live "
        "on in tests/test_hfilev3.py and tests/test_bulkload_hfile.py |\n"
    )
    out.append(
        "| `q227_schema_evolution` | RETIRED round 8 (same session it was "
        "added): duplicated q98_schema_evolution's mergeSchema gate; "
        "retired under the 246-query capacity ceiling |\n"
    )
    return "".join(out)


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "QUERIES.md"), "w") as f:
        f.write(render())
    print(f"wrote {len(registry.QUERIES)} live + 3 retired entries")


if __name__ == "__main__":
    main()
