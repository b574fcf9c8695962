#!/usr/bin/env python
"""Regenerate EXPLAINS.md: the formatted physical plan of every
registered query (``plans.all_queries()``), as reviewable evidence
that the plan-shape claims in SCALING.md / docstrings hold
(PushedFilters, ReadSchema pruning, broadcast placement, partial
aggregation, TakeOrderedAndProject). ``tests/test_tools.py`` fails
when a registered query has no section here.

Run: python tools/explain_audit.py  (writes EXPLAINS.md at repo root)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ray_mapreduce_spark.plans import all_queries  # noqa: E402
from ray_mapreduce_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def _parse_tree(plan: str):
    """Parse a formatted physical plan into (nodes, children):
    nodes[i] = (node_id, name); children = parent node_id -> [child
    node_ids], from the indented tree section; details = node_id ->
    detail text (the '(n) NodeName' blocks)."""
    import re

    lines = plan.splitlines()
    tree: list[tuple[int, int, str]] = []  # (depth, node_id, name)
    node_re = re.compile(r"^([ +:\-*]*)(\S[^()]*?)\s*\((\d+)\)")
    for ln in lines:
        if tree and not ln.strip():
            break  # tree section ends at the first blank line AFTER it began
        if ln.startswith("=="):
            continue
        # node id is the FIRST (n) after the name; trailing annotations
        # like "(columnarIn=false, ...)" may follow
        m = node_re.match(ln)
        if not m:
            continue
        indent, name, nid = m.group(1), m.group(2), int(m.group(3))
        tree.append((len(indent), nid, name.lstrip("* ").strip()))
    details: dict[int, str] = {}
    cur, buf = None, []
    for ln in lines:
        m = re.match(r"^\((\d+)\)\s", ln)
        if m:
            if cur is not None:
                details[cur] = "\n".join(buf)
            cur, buf = int(m.group(1)), [ln]
        elif cur is not None:
            buf.append(ln)
    if cur is not None:
        details[cur] = "\n".join(buf)
    return tree, details


def scan_c6_pattern(explains_path: str) -> list[str]:
    """Standing C6-pattern scan (r16, VERDICT r15 #5): flag any plan
    where an ``Exchange hashpartitioning(...)`` sits above a
    ``Generate`` (row-multiplying explode) whose subtree reaches an
    ``Exchange RoundRobinPartitioning`` with no other Exchange between
    — i.e. a round-robin spread whose multiplied stream is then
    re-exchanged on a key that existed BEFORE the explode. The fix is
    ``spread_by(key)`` (one exchange of un-multiplied rows). Returns
    ["query: hash-node-id -> roundrobin-node-id", ...]."""
    with open(explains_path) as fh:
        text = fh.read()
    hits: list[str] = []
    blocks = text.split("\n## ")
    for block in blocks[1:]:
        qname, _, rest = block.partition("\n")
        qname = qname.strip()
        code = rest.split("```")
        if len(code) < 2:
            continue
        tree, details = _parse_tree(code[1])

        def exch_kind(nid: int) -> str:
            d = details.get(nid, "")
            if "RoundRobinPartitioning" in d:
                return "roundrobin"
            if "hashpartitioning" in d:
                return "hash"
            return "other"

        import re as _re

        def hash_keys(nid: int) -> str:
            m = _re.search(r"hashpartitioning\(([^)]*)\)", details.get(nid, ""))
            keys = m.group(1) if m else "?"
            # strip expr ids and the trailing partition count
            keys = _re.sub(r"#\d+L?", "", keys)
            parts = [p.strip() for p in keys.split(",")]
            if parts and parts[-1].isdigit():
                parts = parts[:-1]
            return ",".join(parts)

        # Linear pass with an ancestor-state stack (node ids can repeat
        # when a shared InMemoryRelation subtree is printed more than
        # once, so a children-map recursion would walk exponentially).
        # State per ancestor chain: (nearest enclosing hash-exchange id
        # or None, Generate id seen strictly below it or None).
        stack: list[tuple[int, int | None, int | None]] = []
        for depth, nid, name in tree:
            while stack and stack[-1][0] >= depth:
                stack.pop()
            hash_anc, gen = (stack[-1][1], stack[-1][2]) if stack else (None, None)
            if name == "Exchange":
                kind = exch_kind(nid)
                if kind == "roundrobin" and hash_anc is not None and gen is not None:
                    # Pre-explode (pass-through) columns = the Generate's
                    # Input list. A downstream hashpartitioning whose key
                    # set intersects them is CONVERTIBLE: repartitioning
                    # by that pre-explode subset BEFORE the explode
                    # satisfies the agg/window's ClusteredDistribution
                    # (subset rule — verified on Spark 4.1), so the
                    # multiplied-stream exchange is elided. Low-cardinality
                    # subsets (lang, source) must still be skipped by the
                    # reviewer — spread_by needs key cardinality >> cores.
                    gdet = details.get(gen, "")
                    m_in = _re.search(r"Input \[\d+\]: \[([^\]]*)\]", gdet)
                    incols = set(
                        _re.findall(r"(\w+)#\d+", m_in.group(1)) if m_in else []
                    )
                    keys = hash_keys(hash_anc)
                    keycols = set(_re.findall(r"\w+", keys))
                    pre = sorted(keycols & incols)
                    verdict = (
                        f"CONVERTIBLE via spread_by({','.join(pre)})"
                        if pre
                        else "keyed only on explode-born columns — round-robin OK"
                    )
                    hits.append(
                        f"{qname}: Exchange({hash_anc}) hashpartitioning({keys}) "
                        f"over Generate({gen}) over RoundRobin Exchange({nid}) [{verdict}]"
                    )
                # any exchange resets the window (it re-distributes)
                hash_anc = nid if kind == "hash" else None
                gen = None
            elif name.startswith("Generate"):
                gen = nid
            stack.append((depth, hash_anc, gen))
    return sorted(set(hits))


def main() -> None:
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    names = sorted(specs)
    out = ["# EXPLAINS — physical plans of every registered query",
           "",
           f"Generated by `tools/explain_audit.py` at `{SF_DIR}` — {len(names)} plans.",
           "Things to check",
           "per plan: `PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
           "`BroadcastHashJoin` only on dimension/rate tables, paired",
           "`HashAggregate` nodes (partial+final), `TakeOrderedAndProject` for",
           "top-k, no `CartesianProduct`/`BatchEvalPython` in relational paths.",
           ""]
    for name in names:
        df = specs[name].builder(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAINS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote EXPLAINS.md ({len(names)} plans)")
    spark.stop()
    # Standing C6-pattern scan (r16, VERDICT r15 #5): every hit must be
    # converted to spread_by or carry a justification (low-cardinality
    # pre-explode key, or key born in the explode) — see
    # OPTIMIZATION_r16.md "C11/C12".
    hits = scan_c6_pattern(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAINS.md"
        )
    )
    conv = [h for h in hits if "CONVERTIBLE" in h]
    print(f"C6-pattern scan: {len(hits)} hits ({len(conv)} convertible)")
    for h in hits:
        print(" ", h)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scan":
        # Scan an existing EXPLAINS.md without regenerating (no Spark).
        for _h in scan_c6_pattern(
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAINS.md")
        ):
            print(_h)
    else:
        main()
