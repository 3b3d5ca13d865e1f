"""DOT-graph rendering of the compiled rulebase (reference: the
lognormalizer -d flag, src/pdag.c:1091-1146 ln_pdagToDot).

We render the PDAG the compiler builds (``_build_trie``, the trie behind
rule ordering and every cohort pattern): rules share prefixes mid-literal,
children are drawn in combined-priority order, and a single-child chain
of literal chars is one node (the PDAG's literal path compaction,
src/pdag.c:345-375).  Terminal nodes carry rule tags.
"""

from __future__ import annotations

from liblognorm_spark.compiler.compiler import _build_trie, _is_plain_lit
from liblognorm_spark.rulebase.loader import Alt


def _quote(text: str) -> str:
    return "'" + text.replace("\\", "\\\\").replace('"', '\\"') + "'"


def _label(item) -> str:
    if isinstance(item, Alt):
        return f"alt[{len(item.alts)}]"
    if item.ptype == "literal":
        return _quote(item.params["text"])
    return item.ptype + (f":{item.name}" if item.name else "")


def rulebase_to_dot(crb, hits: dict | None = None) -> str:
    """CompiledRulebase -> DOT text.  With `hits` (rule_id -> match count,
    the -x statistics DOT of lognormalizer.c:377-388), terminal nodes carry
    their match counts and unmatched rules are grayed."""
    lines = ["digraph pdag {", "  rankdir=LR;", '  node [shape=box, fontsize=9];']
    nid = [0]

    def new_node(label: str, term: bool = False) -> str:
        nid[0] += 1
        name = f"n{nid[0]}"
        shape = ', peripheries=2, style=filled, fillcolor="#e8f4e8"' if term else ""
        lines.append(f'  {name} [label="{label}"{shape}];')
        return name

    # iterative preorder: a literal path can be deeper than the recursion limit
    stack = [(_build_trie((cr.rule.seq, cr) for cr in crb.rules), new_node("root"))]
    while stack:
        node, parent = stack.pop()
        for cr in node.terminals:
            tags = ",".join(cr.tags) or "(untagged)"
            label = f"rule {cr.rule_id}\\ntags: {tags}"
            if hits is not None:
                label += f"\\nmatches: {hits.get(cr.rule_id, 0)}"
            term = new_node(label, term=True)
            if hits is not None and hits.get(cr.rule_id, 0) == 0:
                lines[-1] = lines[-1].replace('fillcolor="#e8f4e8"', 'fillcolor="#eeeeee"')
            lines.append(f"  {parent} -> {term};")
        drawn = []
        for child in node.ordered_children():
            chars, child = child.literal_chain()
            if _is_plain_lit(child.item):
                label = _quote("".join(chars) + child.item.params["text"])
            else:
                label = _label(child.item)
            name = new_node(label)
            lines.append(f"  {parent} -> {name};")
            drawn.append((child, name))
        stack.extend(reversed(drawn))
    lines.append("}")
    return "\n".join(lines)
