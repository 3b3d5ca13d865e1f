"""Rulebase -> compiled vectorized matcher.

Rules are ordered like the reference PDAG, and each maximal run of
regex-expressible rules is fused into ONE trie-factored anchored Python
regex (a :class:`MatchCohort`) with named groups and per-rule marker
groups — the fast path executed over pandas string batches.  The cohort
pattern is the only compiled form of a rule: :func:`compile_rule` only
decides whether a regex can express the rule, and a rule that cannot is
matched by the exact walker.  Design notes:

* Motif fragments use possessive quantifiers / atomic groups so the regex
  cannot backtrack *inside* a motif — the reference's parsers are greedy
  single-pass (e.g. ``number`` consumes all digits; a following literal
  digit can never match, src/parser.c:784-827).  Backtracking *across*
  alternatives mirrors the PDAG's backtracking (src/pdag.c:1588-1599).
* Fragments are constructed to accept a SUPERSET of the C parser's
  language where exactness is cheap, with a post-match validator that
  re-parses the captured span with the exact walker; a mismatch raises
  :class:`Reject` and the row falls back to the full walker across all
  rules.  Fragments must never under-match (a missed match could let a
  lower-priority rule win).
* Rule order mirrors PDAG child ordering: a trie over parser-config tokens
  ordered by combined priority (src/pdag.c:378-398) with insertion order
  as tie-break; DFS over the trie yields the global first-match-wins rule
  order.  The same trie builder factors each cohort's pattern.
"""

from __future__ import annotations

import json as _json
import re
from dataclasses import dataclass, field
from typing import Callable, Optional

from liblognorm_spark.compiler import motifs as M
from liblognorm_spark.compiler.motifs import Reject
from liblognorm_spark.rulebase.loader import Alt, DropsCachesOnPickle, PNode, Rule, Rulebase
from liblognorm_spark.runtime.walker import WalkState, _lit_prefix, _merge_key, attach

RE_SP = r"[ \t\n\v\f\r]"
OCTET = r"(?:[01][0-9]{2}|2[0-4][0-9]|25[0-5]|[0-9]{1,2})(?![0-9])"
IPV4_FRAG = rf"{OCTET}\.{OCTET}\.{OCTET}\.{OCTET}"


# ---------------------------------------------------------------- fragments


def _frag_literal(p):
    return re.escape(p["text"])


def _neg_class(chars: str) -> str:
    """Any char not in `chars`; with no chars, any char at all (``[^]`` is
    not a valid Python class)."""
    if not chars:
        return r"[\s\S]"
    inner = "".join(re.escape(c) for c in chars)
    return f"[^{inner}]"


# fragment builders: p(params) -> regex str (no capture group) or None
FRAGMENTS: dict[str, Optional[Callable[[dict], Optional[str]]]] = {
    "literal": _frag_literal,
    "whitespace": lambda p: RE_SP + "++",
    "word": lambda p: r"[^ ]++",
    "alpha": lambda p: r"[A-Za-z]++",
    "number": lambda p: r"[0-9]++",
    # the optional fraction group must be POSSESSIVE ('?+'): the C parser
    # consumes '2.' in one pass and never gives the dot back, so a rule
    # 'float%.' must NOT match '2.' via regex backtracking (fuzz-found)
    "float": lambda p: r"(?:-[0-9]*+(?:\.[0-9]*+)?+|[0-9]++(?:\.[0-9]*+)?+|\.[0-9]*+)",
    "hexnumber": lambda p: rf"0x[0-9a-fA-F]*+(?={RE_SP})",
    "kernel-timestamp": lambda p: r"\[[0-9]{5,12}\.[0-9]{6}\]",
    "rest": lambda p: r"(?s:.*+)",
    "string-to": lambda p: (
        rf"(?>(?s:.+?)(?={re.escape(p['extradata'])}))" if p.get("extradata") else None
    ),
    "char-to": lambda p: (
        rf"(?>{_neg_class(p['extradata'])}++)(?=[{''.join(re.escape(c) for c in p['extradata'])}])"
        if p.get("extradata")
        else None
    ),
    "char-sep": lambda p: rf"{_neg_class(p.get('extradata', ''))}*+",
    "op-quoted-string": lambda p: r"(?>\"[^\"]*+\"|(?!\")[^ ]++)",
    "quoted-string": lambda p: r"\"[^\"]*+\"",
    "date-iso": lambda p: r"[0-9]{4}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12][0-9]|3[01])",
    "time-24hr": lambda p: r"(?:[01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]",
    "time-12hr": lambda p: r"(?:0[0-9]|1[0-2]):[0-5][0-9]:[0-5][0-9]",
    "duration": lambda p: r"[0-9]{1,2}:[0-5][0-9]:[0-5][0-9]",
    "ipv4": lambda p: IPV4_FRAG,
    "mac48": lambda p: r"[0-9a-fA-F]{2}(?:(?::[0-9a-fA-F]{2}){5}|(?:-[0-9a-fA-F]{2}){5})",
    # superset fragment, exactness restored by walker validation:
    "ipv6": lambda p: r"(?>[0-9A-Fa-f:.]++)",
    # exact value-range fragments (mirror hParseInt leading-zero semantics):
    # day 1-31, hour 0-23 (1971-2099 in hour position = year, skipped),
    # minute 0-59, second 0-60, optional trailing ':' (parser.c:493-730)
    # int fields parse via hParseInt (parser.c:63-78), which returns 0 on
    # ZERO digits — so hour/minute/second (range checks admit 0) may be
    # EMPTY ("Jan 10 00:00:" is a valid 3164 date with second=0, and
    # "-1-1T::Z" a valid 5424 one: year is never range-checked at all)
    "date-rfc3164": lambda p: (
        r"(?i:jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)"
        r"  ?0*(?:3[01]|[12][0-9]|[1-9])(?![0-9])"
        r" (?:0*(?:19(?:7[1-9]|[89][0-9])|20[0-9][0-9])(?![0-9]) )?"
        r"(?:0*(?:2[0-3]|1[0-9]|[0-9]))?+(?![0-9])"
        r":(?:0*(?:[1-5][0-9]|[0-9]))?+(?![0-9])"
        r":(?:0*(?:60|[1-5][0-9]|[0-9]))?+(?![0-9]):?+"
    ),
    "date-rfc5424": lambda p: (
        r"[0-9]*+-0*(?:1[0-2]|[1-9])(?![0-9])-0*(?:3[01]|[12][0-9]|[1-9])(?![0-9])"
        r"T(?:0*(?:2[0-3]|1[0-9]|[0-9]))?+(?![0-9]):(?:0*(?:[1-5][0-9]|[0-9]))?+(?![0-9])"
        r":(?:0*(?:60|[1-5][0-9]|[0-9]))?+(?![0-9])(?:\.[0-9]*+)?"
        r"(?:Z|[+-](?:0*(?:2[0-3]|1[0-9]|[0-9]))?+(?![0-9]):(?:0*(?:[1-5][0-9]|[0-9]))?+(?![0-9]))(?= |$)"
    ),
    # exact: name chars, value = non-space run, exactly one SP between
    # fields, >=2 fields, consumes to EOS (parser.c:2212-2326)
    "v2-iptables": lambda p: (
        r"(?>[A-Z]++(?:=[^ \t\n\v\f\r]*+)?(?: [A-Z]++(?:=[^ \t\n\v\f\r]*+)?)++)(?![\s\S])"
    ),
    "name-value-list": None,  # built dynamically in _frag_nvl
    "checkpoint-lea": lambda p: r"(?>(?: *+[^:]*+:[^;]*+;)++ *+)",
    # greedy guarded fragments — the walker validator re-parses the span
    # and Rejects when the true consumption differs (e.g. a non-terminal
    # json motif), sending the row to the exact full walker:
    "json": lambda p: r"(?=[{\]])(?s:.++)",
    "cee-syslog": lambda p: r"@cee:[ \t\n\v\f\r]*+\{(?s:.*+)",
    "cef": lambda p: r"CEF:0\|(?s:.*+)",
    "cisco-interface-spec": None,
    "string": None,
    "repeat": None,  # handled structurally (body/while may be regexable)
    "custom": None,  # handled structurally
}

def _needs_walker(ptype: str, params: dict) -> bool:
    """Does this capture need the exact walker for validation or value
    construction?  Exact fragments with string values skip it entirely."""
    if ptype in ("ipv6", "name-value-list", "checkpoint-lea", "repeat",
                 "json", "cee-syslog", "cef", "cisco-interface-spec",
                 "string", "op-quoted-string"):
        return True
    if ptype in ("date-rfc3164", "date-rfc5424"):
        # fragment is exact; walker only needed for unix-epoch coercion
        return params.get("format") not in (None, "string")
    return False


_IPT_PAIR_RE = re.compile(r"([A-Z]+)(?:=([^ \t\n\v\f\r]*))?")


def _fast_iptables(raw: str) -> dict:
    """Build the iptables map from an already-validated span (the fragment
    is exact): duplicate names keep the last value, flags map to null
    (parser.c:2260-2264)."""
    out = {}
    for m in _IPT_PAIR_RE.finditer(raw):
        out[m.group(1)] = m.group(2)
    return out


def _frag_nvl(p) -> str:
    """name-value-list superset fragment (exact via walker validation)."""
    sep = p.get("separator") or p.get("extradata") or ""
    ass = (p.get("assignator") or "=")[:1] or "="
    sep_cls = f"[{re.escape(sep)}]" if sep else RE_SP
    if p.get("assignator"):
        name = rf"(?:(?!{re.escape(ass)})[\s\S])++"
    else:
        name = r"[A-Za-z0-9._-]++"
    # trailing lone backslash at EOS is consumed (the C escape scan steps
    # past it; mirrored by the walker's _nv_regexes) — without this tail
    # the fragment is NOT a superset and '0=\' style pairs fall through
    bare = rf"(?:\\[\s\S]|(?!{sep_cls})[^\\])*+(?:\\(?![\s\S]))?"
    quoted = r"\"(?:\\[\s\S]|[^\"\\])*+\"|'(?:\\[\s\S]|[^'\\])*+'"
    pair = rf"{name}{re.escape(ass)}(?:{quoted}|{bare})"
    return rf"(?>(?:{pair}(?:{sep_cls}++{pair})*+{sep_cls}*+)?)"


@dataclass
class FieldSpec:
    """Metadata for one captured field in a compiled rule."""

    gname: str
    name: Optional[str]
    node: PNode
    sub: Optional[list] = None  # sub-FieldSpecs for custom-type objects

    @property
    def simple(self) -> bool:
        """A plain-string capture: extract() returns the group unchanged."""
        node = self.node
        return (
            self.sub is None
            and not _needs_walker(node.ptype, node.params)
            and "format" not in node.params
            and "maxval" not in node.params
            and node.ptype != "v2-iptables"
        )

    def extract(self, m: re.Match, text: str, types: dict):
        """Captured text -> JSON value (may raise Reject)."""
        raw = m.group(self.gname)
        if raw is None:
            return _NOT_PART
        node = self.node
        if self.sub is not None:  # custom type -> object from sub-captures
            child: dict = {}
            for fs in reversed(self.sub):  # leftmost attaches last (fixJSON)
                v = fs.extract(m, text, types)
                if v is _NOT_PART:
                    continue
                attach(child, fs.name, v)
            return child
        ptype = node.ptype
        if ptype == "v2-iptables":
            return _fast_iptables(raw)
        if _needs_walker(ptype, node.params):
            start = m.start(self.gname)
            if ptype == "repeat":
                from liblognorm_spark.runtime.walker import _parse_repeat

                st = WalkState(text=text, strlen=len(text), types=types)
                res3 = _parse_repeat(st, node, start)
                res = (res3[1], res3[2]) if res3[0] else None
            else:
                res = M.PARSERS[ptype](text, start, node.params)
            if res is None or res[0] != len(raw):
                raise Reject(ptype)
            return res[1]
        # scalar fast path with value-dependent checks
        if ptype == "number":
            maxval = int(node.params.get("maxval", 0))
            if maxval > 0 and int(raw) > maxval:
                raise Reject("number maxval")
        elif ptype == "hexnumber":
            maxval = int(node.params.get("maxval", 0))
            if maxval > 0 and int(raw, 16) > maxval:
                raise Reject("hexnumber maxval")
        return M.coerce_value(ptype, raw, node.params)


_NOT_PART = object()  # sentinel: group did not participate in the match


class _Ctx:
    def __init__(self, types: dict):
        self.types = types
        self.counter = 0
        self.regexable = True

    def gname(self) -> str:
        self.counter += 1
        return f"g{self.counter}"


def _flat_literal(seq):
    """Full literal text if the seq is only unnamed literals, else None."""
    if seq and all(
        isinstance(it, PNode) and it.ptype == "literal" and it.name is None for it in seq
    ):
        return "".join(it.params.get("text", "") for it in seq)
    return None


def _head_merge_key(seq):
    """PDAG merge identity of a seq's first item (walker._merge_key, plus
    the empty-seq and Alt cases) — used to detect shared-prefix type
    alternatives the regex path cannot emulate."""
    if not seq:
        return ("empty",)
    it = seq[0]
    if isinstance(it, Alt):
        return ("alt", id(it))
    return _merge_key(it)


def _item_fragment(item, ctx: _Ctx, specs: list, capture: bool) -> str:
    """Build the regex fragment for one Seq item; append FieldSpecs."""
    if isinstance(item, Alt):
        alts = sorted(item.alts, key=lambda s: s[0].prio if s else 1 << 30)
        parts = [_seq_fragment(s, ctx, specs, capture) for s in alts]
        return "(?:" + "|".join(parts) + ")"
    node: PNode = item
    ptype = node.ptype
    if ptype == "custom":
        tname = node.params["typename"]
        type_alts = ctx.types.get(tname)
        if not type_alts:
            ctx.regexable = False
            return ""
        # Reference semantics (pdag.c:1435-1442): a type walk is ATOMIC — it
        # commits to its first terminal success and outer failure never
        # re-enters it — and at shared-prefix nodes the deeper continuation
        # is preferred over the terminal.  Regex twin: an atomic group with
        # pure-literal alternatives ordered longest-first.  Two corners are
        # not regex-expressible and fall back to the exact walker:
        #  * a strict-prefix literal pair with >1 extra char (a failed
        #    deeper branch still extends consumed via npb->parsedTo);
        #  * non-literal alternatives sharing a mergeable head parser
        #    (deep-first walking inside a shared prefix).
        alts_sorted = sorted(type_alts, key=lambda s: s[0].prio if s else 1 << 30)
        lits = [_flat_literal(s) for s in alts_sorted]
        if all(l is not None for l in lits):
            for a in lits:
                for b in lits:
                    if a != b and b.startswith(a) and len(b) - len(a) > 1:
                        ctx.regexable = False
                        return ""
            alts_sorted = [s for _, s in sorted(zip(lits, alts_sorted),
                                                key=lambda p: -len(p[0]))]
        else:
            heads = [_head_merge_key(s) for s in alts_sorted]
            if len(set(heads)) < len(heads):
                ctx.regexable = False
                return ""
        sub_specs: list = []
        alt_frags = [_seq_fragment(s, ctx, sub_specs, capture) for s in alts_sorted]
        inner = "(?>" + "|".join(alt_frags) + ")"
        if not ctx.regexable:
            return ""
        if capture and node.name is not None:
            g = ctx.gname()
            specs.append(FieldSpec(gname=g, name=node.name, node=node, sub=sub_specs))
            return f"(?P<{g}>{inner})"
        # unnamed custom type: sub-captures are discarded (fixJSON name=None)
        return inner
    if ptype == "repeat":
        body_specs: list = []
        b = _seq_fragment(node.params["parser_seq"], ctx, body_specs, capture=False)
        w = _seq_fragment(node.params["while_seq"], ctx, [], capture=False)
        if not ctx.regexable or node.params.get("option.permitMismatchInParser"):
            ctx.regexable = False
            return ""
        inner = f"(?>(?:{b})(?:(?:{w})(?:{b}))*+)"
        if capture and node.name is not None:
            g = ctx.gname()
            specs.append(FieldSpec(gname=g, name=node.name, node=node))
            return f"(?P<{g}>{inner})"
        return inner
    builder = _frag_nvl if ptype == "name-value-list" else FRAGMENTS.get(ptype)
    if builder is None:
        ctx.regexable = False
        return ""
    frag = builder(node.params)
    if frag is None:
        ctx.regexable = False
        return ""
    if capture and node.name is not None:
        g = ctx.gname()
        specs.append(FieldSpec(gname=g, name=node.name, node=node))
        return f"(?P<{g}>{frag})"
    return f"(?:{frag})"


def _seq_fragment(seq, ctx: _Ctx, specs: list, capture: bool) -> str:
    return "".join(_item_fragment(it, ctx, specs, capture) for it in seq)


@dataclass
class CompiledRule:
    rule: Rule
    regexable: bool  # False -> walker-only rule
    prefilter: str  # unnamed leading literal: keys the matcher's dispatch trie
    order: int = 0
    # constant per-rule event fields: event.tags + tag annotations
    extra_fields: dict = field(default_factory=dict)

    def finish(self, annotations: dict):
        if self.tags:
            self.extra_fields["event.tags"] = list(self.tags)
            for tag in reversed(self.tags):  # reverse order, annot.c:229
                for k, v in (annotations.get(tag) or {}).items():
                    self.extra_fields[k] = v
        return self

    @property
    def rule_id(self):
        return self.rule.rule_id

    @property
    def tags(self):
        return self.rule.tags


def compile_rule(rule: Rule, types: dict) -> CompiledRule:
    """Decide whether one regex can express the rule (its fragment is
    built and dropped); :meth:`MatchCohort.build` compiles it."""
    ctx = _Ctx(types)
    _seq_fragment(rule.seq, ctx, [], capture=False)
    return CompiledRule(rule=rule, regexable=ctx.regexable, prefilter=_lit_prefix(rule))


@dataclass
class ExtractPlan:
    """Per-rule extraction metadata for a trie cohort match, in the shape
    the matcher hot loop reads: attribute chains flattened, captures
    reversed once (leftmost attaches last), simple captures resolved to
    INTEGER group indices (m.group(int) skips the name lookup)."""

    rule: Rule
    rule_id: int
    extra_fields: dict
    has_complex: bool
    specs_rev: tuple  # FieldSpecs along the rule's trie path (shared groups)
    simple_rev: tuple  # (group index, name) fast-path captures


class _TrieNode:
    __slots__ = ("item", "children", "ins", "terminals")

    def __init__(self, item=None, ins=0):
        self.item = item
        self.children: dict = {}
        self.ins = ins
        self.terminals: list = []

    def ordered_children(self):
        """Combined-priority order, insertion order as tie-break
        (src/pdag.c:378-398)."""
        return sorted(self.children.values(), key=lambda c: (c.item.prio, c.ins))

    def literal_chain(self):
        """The PDAG's literal path compaction (src/pdag.c:345-375): from
        this node, follow single-child unnamed-literal chars that end no
        rule.  Returns the chars passed and the node the chain stops at
        (whose own item is not among the chars)."""
        chars = []
        node = self
        while (
            _is_plain_lit(node.item)
            and not node.terminals
            and len(node.children) == 1
            and _is_plain_lit(next(iter(node.children.values())).item)
        ):
            chars.append(node.item.params["text"])
            node = next(iter(node.children.values()))
        return chars, node


def _build_trie(entries) -> _TrieNode:
    """Shared-prefix trie over `(seq, payload)` entries; each payload joins
    its seq's end node's terminals in entry order."""
    root = _TrieNode()
    for seq, payload in entries:
        node = root
        for item in _expand_items(seq):
            k = _edge_key(item)
            child = node.children.get(k)
            if child is None:
                child = node.children[k] = _TrieNode(item=item, ins=len(node.children))
            node = child
        node.terminals.append(payload)
    return root


def _expand_items(seq):
    """Literals split per char so rules share prefixes mid-literal, exactly
    like the PDAG's one-node-per-char loading (src/samp.c:320-325)."""
    for item in seq:
        if isinstance(item, PNode) and item.ptype == "literal" and item.name is None:
            for ch in item.params["text"]:
                yield PNode(ptype="literal", name=None, params={"text": ch},
                            user_prio=item.user_prio)
        else:
            yield item  # named literals keep their capture; Alt/customs opaque


def _edge_key(item):
    if isinstance(item, Alt):
        ident = _json.dumps(
            [[_node_ident(n) for n in s if isinstance(n, PNode)] for s in item.alts],
            sort_keys=True,
        )
        return (item.prio, "alt:" + ident)
    if _is_plain_lit(item) and len(item.params["text"]) == 1:
        # _expand_items' per-char literal: the char is its identity (no
        # other key is one char long), without a json dump per char
        return (item.prio, item.params["text"])
    return (item.prio, _node_ident(item))


def _is_plain_lit(item) -> bool:
    return isinstance(item, PNode) and item.ptype == "literal" and item.name is None


@dataclass
class MatchCohort:
    """A maximal run of consecutive (priority-ordered) regexable rules
    fused into ONE trie-factored pattern: rules share prefixes exactly like
    the reference PDAG (src/pdag.c:847-866), so per-row match cost stays
    near-constant as the rulebase grows instead of O(rules).  Branch order
    inside every trie node is combined-priority order with insertion-order
    tie-break (src/pdag.c:378-398); a terminal is an empty marker group
    tried first, which matches iff the input ends there (the PDAG's
    terminal-at-EOS acceptance, src/pdag.c:1608-1612)."""

    rules: list  # list[CompiledRule]
    pattern: re.Pattern = None  # type: ignore[assignment]
    by_marker: dict = None  # type: ignore[assignment]  # group index -> ExtractPlan

    def build(self, types: dict):
        ctx = _Ctx(types)  # group names need only be unique in this pattern
        ends: list = []  # (CompiledRule, FieldSpecs along its trie path)
        path_specs: list = []

        def emit(node: _TrieNode) -> str:
            parts = []
            if node.terminals:
                cr = node.terminals[0]  # duplicates coalesce: first wins
                ends.append((cr, list(path_specs)))
                parts.append(f"(?P<R{cr.order}>)")
            for child in node.ordered_children():
                lits, cur = child.literal_chain()
                if _is_plain_lit(cur.item):
                    lits.append(cur.item.params["text"])
                    frag = re.escape("".join(lits))
                    sub = emit(cur)
                else:
                    mark = len(path_specs)
                    frag = re.escape("".join(lits)) + _item_fragment(
                        cur.item, ctx, path_specs, capture=True
                    )
                    sub = emit(cur)
                    del path_specs[mark:]
                parts.append(frag + sub)
            if not parts:
                return ""
            if len(parts) == 1:
                return parts[0]
            return "(?:" + "|".join(parts) + ")"

        pattern_src = emit(_build_trie((cr.rule.seq, cr) for cr in self.rules))
        if not ctx.regexable:
            raise AssertionError(
                "cohort fragment rebuild turned non-regexable for rules "
                f"{[cr.rule_id for cr in self.rules]} — inconsistent with "
                "their per-rule compilation"
            )
        self.pattern = re.compile(pattern_src)
        gidx = self.pattern.groupindex
        self.by_marker = {}
        for cr, specs in ends:
            simple = [fs for fs in specs if fs.simple]
            self.by_marker[gidx[f"R{cr.order}"]] = ExtractPlan(
                rule=cr.rule, rule_id=cr.rule_id, extra_fields=cr.extra_fields,
                has_complex=len(simple) < len(specs), specs_rev=tuple(reversed(specs)),
                simple_rev=tuple((gidx[fs.gname], fs.name) for fs in reversed(simple)),
            )
        return self

    def plan_for(self, m: re.Match):
        # the rule's marker group closes last -> lastindex IS the marker
        plan = self.by_marker.get(m.lastindex)
        if plan is not None:
            return plan
        for gi, plan in self.by_marker.items():  # safety net
            if m.group(gi) is not None:
                return plan
        return None


# ------------------------------------------------------------ rule ordering


def _node_ident(n: PNode) -> str:
    params = {k: v for k, v in n.params.items() if k not in ("parser_seq", "while_seq")}
    return n.ptype + ":" + str(n.name) + ":" + _json.dumps(params, sort_keys=True, default=str)


def order_rules(rules: list[Rule]) -> list[int]:
    """Return rule_ids in PDAG first-match order: DFS over the shared-prefix
    trie with children sorted by (combined priority, insertion order)."""
    # Preorder: a terminal rule at a node is emitted before longer rules
    # through that node.  The reference accepts a terminal only at EOS
    # (src/pdag.c:1608-1612) and that acceptance overrides any child match
    # ending at the same EOS, so the shorter rule's identity wins there;
    # fullmatch-anchored regexes make the two mutually exclusive otherwise.
    order: list[int] = []

    def dfs(node: _TrieNode):
        order.extend(node.terminals)
        for child in node.ordered_children():
            dfs(child)

    dfs(_build_trie((rule.seq, idx) for idx, rule in enumerate(rules)))
    return order


@dataclass
class CompiledRulebase(DropsCachesOnPickle):
    rules: list[CompiledRule]  # in match order
    types: dict
    annotations: dict
    errors: list[str] = field(default_factory=list)
    cohorts: list = field(default_factory=list)  # MatchCohort | CompiledRule
    version: int = 2  # rulebase engine version (1 = no version=2 header)
    opts: frozenset = frozenset()  # context options (Rulebase.opts), as on ln_ctx
    # runtime.matcher's caches: the dispatch trie's closures, which plain
    # pickle refuses, and memos that can outgrow the rulebase
    _CACHES = ("_trie", "_dispatch_memo_cache", "_exec_paths", "_fb_memo", "_fb_memo_bytes")

    @property
    def ordered_rules(self):
        return [cr.rule for cr in self.rules]


def compile_rulebase(rb: Rulebase) -> CompiledRulebase:
    order = order_rules(rb.rules)
    compiled = []
    for pos, idx in enumerate(order):
        cr = compile_rule(rb.rules[idx], rb.types)
        cr.order = pos
        cr.finish(rb.annotations)
        compiled.append(cr)
    # CPython allocates a span slot for EVERY group in a pattern on each
    # successful match, so one giant trie would make match cost O(total
    # rules).  Chunking runs into <=MAX_COHORT_RULES keeps the allocation
    # bounded; a failed chunk attempt is cheap (no Match object), so the
    # sequential chunk scan costs ~0.5us per miss.
    MAX_COHORT_RULES = 64
    cohorts: list = []
    run: list[CompiledRule] = []

    def flush_run():
        nonlocal run
        for i in range(0, len(run), MAX_COHORT_RULES):
            chunk = run[i : i + MAX_COHORT_RULES]
            cohorts.append(MatchCohort(rules=chunk).build(rb.types))
        run = []

    for cr in compiled:
        if cr.regexable:
            run.append(cr)
        else:
            flush_run()
            cohorts.append(cr)  # walker-only rule
    flush_run()
    return CompiledRulebase(
        rules=compiled,
        types=rb.types,
        annotations=rb.annotations,
        errors=list(rb.errors),
        cohorts=cohorts,
        version=getattr(rb, "version", 2),
        opts=frozenset(rb.opts),
    )
