#!/usr/bin/env python3
"""Rebuild PLANS.md from `graft.Explain` output.

Usage:
  sbt -batch "runMain graft.Explain /root/testdata/sf0.001" > /tmp/explain.txt 2>&1
  python3 tools/gen_plans.py /tmp/explain.txt > PLANS.md

Keeps the committed dossier honest: the plan tree verbatim plus the
scan/exchange/join detail lines a scale review needs (ReadSchema,
PushedFilters, Exchange arguments, join types, WindowGroupLimit).
"""
import re
import sys

HEADER = """# PLANS — formatted physical plans of headline queries

Generated by `graft.Explain` at sf0.001 via `tools/gen_plans.py` (plan
SHAPE is scale-independent; AQE re-plans exchanges at runtime). What to
look for, per the scale-design rules in SURVEY.md §4 / README:

- `ReadSchema` lists ONLY the referenced columns (column pruning);
- `PushedFilters` shows predicates reaching the parquet scan;
- rule validation is a single `WholeStageCodegen` span with
  **no Exchange** (zero shuffle);
- referential integrity uses `BroadcastHashJoin … LeftAnti`;
- aggregates show `partial_*` → Exchange → `merge_*`/final (map-side
  combine).
- numeric drift (`q_drift_auto_events`, `q_drift_documents`,
  `q_drift_events`) counts both sides' bins in one aggregate while the
  frame is built and scores them on the driver, so its plan here is the
  one-partition local result; DriftSpec pins the counting queries (one
  hash exchange, no window or sort).
"""

DETAIL_HEADS = re.compile(
    r"^\(\d+\) (Scan parquet|Exchange|BroadcastExchange|BroadcastHashJoin"
    r"|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct"
    r"|WindowGroupLimit|Window\b)")
DETAIL_KEEP = re.compile(
    r"^(ReadSchema|PushedFilters|Arguments|Join condition|Location):|^Input")


def main(path: str) -> None:
    sections = {}
    name = None
    for line in open(path, errors="replace"):
        line = line.rstrip("\n")
        if line.startswith("[info] "):  # sbt-prefixed stdout
            line = line[len("[info] "):]
        elif line == "[info]":
            line = ""
        if line.startswith("================"):
            name = line.strip("= ").strip()
            sections[name] = []
            continue
        if name is not None:
            sections[name].append(line)

    print(HEADER)
    for name in sorted(sections):
        lines = sections[name]
        # plan tree: from "== Physical Plan ==" to first blank line
        try:
            start = next(i for i, l in enumerate(lines)
                         if l.startswith("== Physical Plan =="))
        except StopIteration:
            continue
        tree = []
        for l in lines[start:]:
            if (l.strip() == "" or re.match(r"^\(\d+\) ", l)) and len(tree) > 1:
                break
            tree.append(l)
        # detail lines: node headers of interest + their key attributes
        details = []
        keep = False
        for l in lines[start + len(tree):]:
            if re.match(r"^\(\d+\) ", l):
                keep = bool(DETAIL_HEADS.match(l))
                if keep:
                    if details:
                        details.append("")
                    details.append(l)
            elif keep and DETAIL_KEEP.match(l.strip()):
                details.append(l)
        print(f"\n## {name}\n")
        print("```")
        print("\n".join(tree))
        print("```")
        if details:
            print("\nKey scan/exchange details:\n")
            print("```")
            print("\n".join(details))
            print("```")


if __name__ == "__main__":
    main(sys.argv[1])
