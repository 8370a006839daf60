#!/usr/bin/env python3
"""Digest `runMain graft.tools.Explain` output into PLANS.md.

Usage:
  sbt -batch "runMain graft.tools.Explain /root/testdata/sf0.01" > /tmp/explain_all.txt 2>/dev/null
  python3 tools/plans_digest.py /tmp/explain_all.txt PLANS.md
"""
import re
import sys

HEADER = """# PLANS — scale-relevant physical-plan evidence (sf0.01)

Auto-digested from `runMain graft.tools.Explain` (formatted mode) by
`tools/plans_digest.py`: per query, the parquet pushdown lines, the
join/aggregate strategy nodes and the shuffle exchanges, with how many of
them range-partition (a global sort's exchange, which samples its input
in a job of its own). Regenerate any time; see SCALING.md for the
rationale.
"""


def digest(src: str, dst: str) -> int:
    txt = open(src).read()
    blocks = re.split(r"=+ (\S+) =+", txt)[1:]
    out = [HEADER]
    for name, body in zip(blocks[::2], blocks[1::2]):
        lines = [f"## {name}"]
        # the filter list nests one bracket level (In(c, [a,b])): match
        # through the list's own closing bracket, not the first `]`
        pushed = sorted(set(re.findall(
            r"PushedFilters: \[(?:[^\[\]\n]|\[[^\[\]\n]*\])*\]", body)))
        schemas = sorted(set(re.findall(r"ReadSchema: struct<[^\n]{0,100}", body)))
        joins = sorted(set(re.findall(
            r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin|CartesianProduct)[^\n(]*", body)))
        n_agg = len(re.findall(r"\(\d+\) HashAggregate", body))
        n_exchange = len(re.findall(r"^\(\d+\) Exchange\b", body, re.M))
        n_range = body.count("Arguments: rangepartitioning(")
        for p in pushed:
            if p != "PushedFilters: []":
                lines.append(f"- {p}")
        for s in schemas[:5]:
            lines.append(f"- {s.rstrip()}")
        for j in joins:
            lines.append(f"- join: {j.strip()}")
        if n_agg:
            lines.append(f"- HashAggregate nodes: {n_agg}")
        if n_exchange:
            lines.append(f"- shuffle exchanges: {n_exchange} "
                         f"(range-partitioned: {n_range})")
        if len(lines) == 1:
            lines.append(
                "- (plan rooted at localCheckpoint — iterative "
                "connected-components loop cuts lineage per round; "
                "see Dedup.connectedKeepers / SCALING.md)")
        out.append("\n".join(lines) + "\n")
    open(dst, "w").write("\n".join(out))
    return len(blocks) // 2


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/tmp/explain_all.txt"
    dst = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    print(f"entries: {digest(src, dst)}")
