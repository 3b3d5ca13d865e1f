"""Rulebase loader: logical lines -> Rule/type/annotation model.

Line-type dispatch mirrors reference src/samp.c:868-902 (``ln_processSamp``):
``prefix= extendprefix= rule= type= annotate= include= version=``.

A rule template is split into alternating literal runs and field
descriptors (src/samp.c:349-385 ``addSampToTree``).  Field descriptors come
in two syntaxes (src/samp.c:224-245 ``addFieldDescr``):

* legacy ``%name:type[:extradata]%`` with optional inline ``{json}`` params
  after the type (src/samp.c:51-187 ``ln_parseLegacyFieldDescr``); and
* JSON config ``%{"name":...,"type":...}%`` or a JSON array for a
  sequence (tests/names.sh).

The output IR is a list of :class:`PNode`/:class:`Alt` items per rule — a
rule-at-a-time linearization of the reference's prefix-sharing PDAG; prefix
sharing is an execution-strategy question handled by the compiler, not a
semantic one.
"""

from __future__ import annotations

import json as _json
import os
from dataclasses import dataclass, field
from typing import Any, Optional, Union

from liblognorm_spark.rulebase.reader import read_logical_lines

# built-in parser priorities, reference src/pdag.c:70-103
PARSER_PRIOS = {
    "literal": 4,
    "repeat": 4,
    "date-rfc3164": 8,
    "date-rfc5424": 8,
    "number": 16,
    "float": 16,
    "hexnumber": 16,
    "kernel-timestamp": 16,
    "whitespace": 4,
    "ipv4": 4,
    "ipv6": 4,
    "word": 32,
    "alpha": 32,
    "rest": 255,
    "op-quoted-string": 64,
    "quoted-string": 64,
    "date-iso": 8,
    "time-24hr": 8,
    "time-12hr": 8,
    "duration": 16,
    "cisco-interface-spec": 4,
    "json": 4,
    "cee-syslog": 4,
    "mac48": 16,
    "cef": 4,
    "v2-iptables": 4,
    "name-value-list": 8,
    "checkpoint-lea": 4,
    "string-to": 32,
    "char-to": 32,
    "char-sep": 32,
    "string": 32,
    "custom": 16,  # PRS_CUSTOM_TYPE, src/pdag.c:102
}
DEFAULT_USER_PRIO = 30000  # src/pdag.c:105


class RulebaseError(Exception):
    pass


def scan_json_span(buf: str, i: int) -> tuple[Any, int]:
    """Parse one JSON value starting at buf[i], tolerating trailing commas
    (json-c accepts ``[1,2,]`` / ``{"a":1,}``; several reference rulebase
    fixtures rely on that).  Returns (value, end_index)."""
    decoder = _json.JSONDecoder()
    try:
        return decoder.raw_decode(buf, i)
    except ValueError:
        pass
    # string-aware scan for the matching close bracket, then sanitize
    open_c = buf[i]
    if open_c not in "{[":
        raise RulebaseError(f"invalid json in '{buf[i:i+40]}'")
    depth = 0
    in_str = False
    esc = False
    j = i
    n = len(buf)
    while j < n:
        c = buf[j]
        if in_str:
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == '"':
                in_str = False
        else:
            if c == '"':
                in_str = True
            elif c in "{[":
                depth += 1
            elif c in "}]":
                depth -= 1
                if depth == 0:
                    j += 1
                    break
        j += 1
    span = buf[i:j]
    # drop commas directly followed (modulo whitespace) by a closing
    # bracket — string-aware so literals like "a,]" survive
    out: list[str] = []
    in_str = False
    esc = False
    for c in span:
        if in_str:
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == '"':
                in_str = False
            out.append(c)
            continue
        if c == '"':
            in_str = True
            out.append(c)
            continue
        if c in "}]":
            k = len(out) - 1
            while k >= 0 and out[k] in " \t\n\r":
                k -= 1
            if k >= 0 and out[k] == ",":
                del out[k]
        out.append(c)
    try:
        return _json.loads("".join(out)), j
    except ValueError as e:
        raise RulebaseError(f"invalid json in '{span[:60]}': {e}")


class DropsCachesOnPickle:
    """Base of the objects the matcher and walker hang lazily built caches
    on, named in ``_CACHES``.  Pickling leaves them out, so a rulebase ships
    to the workers at the size of a freshly compiled one, whatever the
    driver matched with it, and each worker rebuilds them on first use."""

    _CACHES = ()

    def __getstate__(self):
        state = self.__dict__.copy()
        for name in self._CACHES:
            state.pop(name, None)
        return state


@dataclass
class PNode:
    """One parser instance (a PDAG edge), reference src/pdag.h:81-89."""

    ptype: str
    name: Optional[str] = None
    params: dict = field(default_factory=dict)
    user_prio: int = DEFAULT_USER_PRIO

    @property
    def prio(self) -> int:
        """Combined priority, src/pdag.c:265: (user_prio << 8) | parser_prio."""
        return (self.user_prio << 8) | PARSER_PRIOS.get(self.ptype, 16)


@dataclass
class Alt(DropsCachesOnPickle):
    """Alternative branches; all converge to the next seq item.

    Reference: src/pdag.c:895-936 (PRS_ADD_MODE_ALTERNATIVE)."""

    alts: list = field(default_factory=list)  # list[Seq]
    _CACHES = ("_sorted_cache",)  # walker._sorted_alts

    @property
    def prio(self) -> int:
        return min((first_prio(s) for s in self.alts), default=(DEFAULT_USER_PRIO << 8) | 16)


Item = Union[PNode, Alt]
Seq = list  # list[Item]


def first_prio(seq: Seq) -> int:
    if not seq:
        return (DEFAULT_USER_PRIO << 8) | 16
    return seq[0].prio


@dataclass
class Rule(DropsCachesOnPickle):
    rule_id: int
    tags: list[str]
    seq: Seq
    rb_file: str = "--"
    rb_line: int = 0
    raw: str = ""
    _CACHES = ("_flat_cache", "_lit_prefix_cache")  # walker.flat_items, walker._lit_prefix


@dataclass
class Rulebase:
    rules: list[Rule] = field(default_factory=list)
    types: dict[str, list] = field(default_factory=dict)  # name -> list[Seq] (alternatives)
    annotations: dict[str, dict[str, str]] = field(default_factory=dict)  # tag -> {field: value}
    errors: list[str] = field(default_factory=list)
    # context options, the ln_setCtxOpts analogue (liblognorm.h:136-150);
    # currently meaningful here: "allowRegex" gates the v1-compat regex motif
    opts: set = field(default_factory=set)
    # engine version: 2 iff the first line is 'version=2' (samp.c routes to
    # v2_samp/pdag, else v1_samp/ptree); gates v1-engine match quirks
    version: int = 1

    # ---------------- construction ----------------

    @classmethod
    def from_string(cls, text: str, *, base_dir: str | None = None, name: str = "--",
                    opts: set | frozenset = frozenset()) -> "Rulebase":
        rb = cls(opts=set(opts))
        rb._load_text(text, base_dir=base_dir, name=name, include_level=1)
        return rb

    @classmethod
    def from_file(cls, path: str, *, opts: set | frozenset = frozenset()) -> "Rulebase":
        with open(path, encoding="utf-8", errors="surrogateescape") as f:
            text = f.read()
        rb = cls(opts=set(opts))
        rb._load_text(text, base_dir=os.path.dirname(path) or ".", name=path, include_level=1)
        return rb

    def _load_text(self, text: str, *, base_dir: str | None, name: str, include_level: int) -> None:
        if include_level > 10:
            raise RulebaseError("too many include levels")
        state = getattr(self, "_state", None)
        if state is None:
            state = {"prefix": "", "version": 1}
            self._state = state
        rr = read_logical_lines(text)
        self.errors.extend(rr.errors)
        # current include dir, for parsers that load files at config time
        # (descent); saved/restored across nested includes
        prev_base = state.get("base_dir")
        state["base_dir"] = base_dir
        try:
            for i, (line, lineno) in enumerate(rr.lines):
                if i == 0 and line.strip() == "version=2":
                    state["version"] = 2
                    self.version = 2
                    continue
                self._process_line(line, lineno, base_dir=base_dir, name=name, include_level=include_level)
        finally:
            state["base_dir"] = prev_base

    def _process_line(self, line: str, lineno: int, *, base_dir, name, include_level) -> None:
        eq = line.find("=")
        if eq < 0:
            self.errors.append(f"invalid record type detected: '{line}'")
            return
        ltype, rest = line[:eq], line[eq + 1 :]
        st = self._state
        if ltype == "prefix":
            st["prefix"] = rest
        elif ltype == "extendprefix":
            st["prefix"] = st["prefix"] + rest
        elif ltype == "rule":
            self._process_rule(rest, lineno, name)
        elif ltype == "type":
            self._process_type(rest)
        elif ltype == "annotate":
            self._process_annotate(rest)
        elif ltype == "include":
            fname = rest.strip()
            path = fname
            if not os.path.isabs(path):
                search = [base_dir] if base_dir else []
                env = os.environ.get("LIBLOGNORM_RULEBASES")
                if env:
                    search.append(env)
                for d in search:
                    cand = os.path.join(d, fname)
                    if os.path.exists(cand):
                        path = cand
                        break
            try:
                with open(path, encoding="utf-8", errors="surrogateescape") as f:
                    itext = f.read()
            except OSError as e:
                self.errors.append(f"cannot open include file '{fname}': {e}")
                return
            self._load_text(
                itext,
                base_dir=os.path.dirname(path) or ".",
                name=path,
                include_level=include_level + 1,
            )
        elif ltype == "version":
            pass  # handled at line 0 only; elsewhere ignored
        else:
            self.errors.append(f"invalid record type detected: '{ltype}'")

    # rule=tag1,tag2:template  (src/samp.c:552-576, tags: src/samp.c:502-539)
    def _process_rule(self, rest: str, lineno: int, fname: str) -> None:
        colon = rest.find(":")
        if colon < 0:
            self.errors.append(f"rule line {lineno}: no tag part")
            return
        tagpart = rest[:colon]
        tags = [t for t in tagpart.split(",") if t != ""]
        template = self._state["prefix"] + rest[colon + 1 :]
        if template == "":
            self.errors.append(f"rule line {lineno}: actual message sample part is missing")
            return
        try:
            seq = parse_template(template)
        except RulebaseError as e:
            self.errors.append(f"rule line {lineno}: {e}")
            return
        try:
            self._configure_seq(seq)
        except RulebaseError as e:
            self.errors.append(f"rule line {lineno}: {e}")
            # The reference engines insert parse-tree nodes INCREMENTALLY
            # while reading a sample, so a parser-config failure mid-rule
            # leaves the already-inserted literal prefix as a dead-end path
            # that still earns parsedTo credit (v1_parser.c constructors
            # abort after the prefix chars are in the tree; exercised by
            # field_suffixed_with_invalid_ruledef.sh's partial
            # unparsed-data).  Model it as a never-matching stub rule.
            stub: Seq = []
            for it in seq:
                if isinstance(it, PNode) and it.ptype == "literal" and it.name is None:
                    stub.append(it)
                else:
                    break
            if stub:
                stub.append(PNode(ptype="never", params={}))
                self.rules.append(
                    Rule(rule_id=len(self.rules), tags=[], seq=stub,
                         rb_file=fname, rb_line=lineno, raw=template)
                )
            return
        self.rules.append(
            Rule(
                rule_id=len(self.rules),
                tags=tags,
                seq=seq,
                rb_file=fname,
                rb_line=lineno,
                raw=template,
            )
        )

    # type=@name:template  (src/samp.c:625-653)
    def _process_type(self, rest: str) -> None:
        if not rest.startswith("@"):
            self.errors.append("user-defined type name must start with '@'")
            return
        colon = rest.find(":")
        if colon < 0:
            self.errors.append("type def: missing ':'")
            return
        tname = rest[:colon]
        if any(c.isspace() for c in tname):
            self.errors.append("user-defined type name must not contain whitespace")
            return
        template = rest[colon + 1 :]
        if template == "":
            self.errors.append("type def: actual message sample part is missing")
            return
        try:
            seq = parse_template(template)
            self._configure_seq(seq)
        except RulebaseError as e:
            self.errors.append(f"type {tname}: {e}")
            return
        self.types.setdefault(tname, []).append(seq)

    def _configure_seq(self, seq: Seq) -> None:
        """Load-time parser configuration that needs rulebase context —
        the analogue of the reference's parser-data constructors running at
        rule load.  Currently: the v1-compat regex motif (gated on the
        allowRegex option); a configuration error fails the whole rule,
        which the reference reports and drops (v1_samp.c:236-242)."""
        from liblognorm_spark.compiler.motifs import configure_regex

        for item in seq:
            if isinstance(item, Alt):
                for sub in item.alts:
                    self._configure_seq(sub)
                continue
            if item.ptype == "regex":
                err = configure_regex(item.params, "allowRegex" in self.opts)
                if err:
                    raise RulebaseError(err)
            elif item.ptype == "tokenized":
                from liblognorm_spark.compiler.motifs import configure_tokenized

                err = configure_tokenized(item.params, self)
                if err:
                    raise RulebaseError(err)
            elif item.ptype == "interpret":
                from liblognorm_spark.compiler.motifs import configure_interpret

                err = configure_interpret(item.params, self)
                if err:
                    raise RulebaseError(err)
            elif item.ptype in ("suffixed", "named_suffixed"):
                from liblognorm_spark.compiler.motifs import configure_suffixed

                err = configure_suffixed(item.params, self, item.ptype == "named_suffixed")
                if err:
                    raise RulebaseError(err)
            elif item.ptype in ("recursive", "descent"):
                from liblognorm_spark.compiler.motifs import (
                    configure_descent,
                    configure_recursive,
                )

                cfg = configure_recursive if item.ptype == "recursive" else configure_descent
                err = cfg(item.params, self)
                if err:
                    raise RulebaseError(err)
            elif item.ptype == "cef" and self._state.get("version", 1) == 1:
                # v1-engine CEF quirk: trailing-space-only extensions fail
                # (see parse_cef; v1_parser.c:2920 vs parser.c:3002)
                item.params["_v1_engine"] = True
            elif item.ptype == "repeat":
                self._configure_seq(item.params.get("parser_seq") or [])
                self._configure_seq(item.params.get("while_seq") or [])

    # annotate=tag:+field="value"  (src/samp.c:726-821)
    def _process_annotate(self, rest: str) -> None:
        colon = rest.find(":")
        if colon < 0:
            self.errors.append(f"invalid tag field in annotation: '{rest}'")
            return
        tag = rest[:colon].strip()
        ops = self.annotations.setdefault(tag, {})
        i = colon + 1
        buf = rest
        n = len(buf)
        while i < n:
            while i < n and buf[i].isspace():
                i += 1
            if i >= n:
                break
            c = buf[i]
            if c == "#":  # inline comment
                break
            if c != "+":
                self.errors.append(f"invalid annotate operation '{c}': {buf[i:]}")
                return
            i += 1
            j = i
            while j < n and buf[j] not in "=":
                j += 1
            fieldname = buf[i:j].strip()
            if j >= n:
                self.errors.append("annotate: missing '='")
                return
            i = j + 1
            while i < n and buf[i].isspace():
                i += 1
            if i >= n or buf[i] != '"':
                self.errors.append("annotate: value must be quoted")
                return
            i += 1
            k = buf.find('"', i)
            if k < 0:
                ops[fieldname] = buf[i:]
                i = n
            else:
                ops[fieldname] = buf[i:k]
                i = k + 1


# ---------------- template parsing ----------------


_ESCAPES = {
    "n": "\n", "t": "\t", "r": "\r", "a": "\a", "b": "\b", "f": "\f",
    "v": "\v", "\\": "\\", "'": "'", '"': '"', "?": "?", "%": "%",
}


def unescape(s: str) -> str:
    """Backslash unescaping as done by libestr es_unescapeStr on literals
    and extradata (reference usage: src/samp.c:311, 146): C escapes incl.
    \\xHH hex and \\NNN octal (tests use e.g. \\x3a for ':')."""
    out = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nxt = s[i + 1]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
            if nxt in "xX" and i + 2 < n and s[i + 2] in "0123456789abcdefABCDEF":
                j = i + 2
                while j < n and j < i + 4 and s[j] in "0123456789abcdefABCDEF":
                    j += 1
                out.append(chr(int(s[i + 2 : j], 16)))
                i = j
                continue
            if nxt in "01234567":
                j = i + 1
                while j < n and j < i + 4 and s[j] in "01234567":
                    j += 1
                out.append(chr(int(s[i + 1 : j], 8)))
                i = j
                continue
        out.append(c)
        i += 1
    return "".join(out)


def parse_template(template: str) -> Seq:
    """Split ``literal%field%literal...`` into a Seq of PNode/Alt items.

    Mirrors src/samp.c:289-385: literals end at a ``%`` that starts a field;
    ``%%`` inside a literal is an escaped percent sign.
    """
    seq: Seq = []
    i = 0
    n = len(template)
    while i < n:
        # literal run
        lit = []
        while i < n:
            if template[i] == "%":
                if i + 1 < n and template[i + 1] != "%":
                    break
                i += 1  # '%%' -> '%'
                if i == n:
                    break
                lit.append(template[i])
                i += 1
            else:
                lit.append(template[i])
                i += 1
        if lit:
            text = unescape("".join(lit))
            if text:
                seq.append(PNode(ptype="literal", name=None, params={"text": text}))
        if i < n:  # at '%' that starts a field
            i = parse_field_descr(template, i, seq)
    return seq


def parse_field_descr(buf: str, i: int, seq: Seq) -> int:
    """Parse one %...% field descriptor starting at buf[i] == '%'.

    Returns the index after the closing '%'.  Appends item(s) to seq.
    """
    assert buf[i] == "%"
    n = len(buf)
    i += 1
    while i < n and buf[i].isspace():
        i += 1
    if i < n and buf[i] in "{[":
        # JSON config (object = single parser, array = sequence)
        conf, end = scan_json_span(buf, i)
        while end < n and buf[end].isspace():
            end += 1
        if end >= n or buf[end] != "%":
            raise RulebaseError(f"invalid json in '{buf[i:]}' (missing closing %)")
        append_parser_conf(seq, conf)
        return end + 1
    # legacy %name:type[:extradata]% with optional {json} after type
    j = i
    while j < n and buf[j] != ":":
        j += 1
    name = buf[i:j]
    if j >= n or name == "":
        raise RulebaseError(f"field definition wrong in: {buf[i:]}")
    i = j + 1  # skip ':'
    j = i
    while j < n and buf[j] not in ":{%":
        j += 1
    ftype = buf[i:j].rstrip()
    i = j
    if i >= n:
        raise RulebaseError(f"premature end (missing %?) in: {buf}")
    conf: dict[str, Any] = {"name": name, "type": ftype}
    if buf[i] == "{":
        jconf, end = scan_json_span(buf, i)
        conf.update(jconf)
        i = end
        while i < n and buf[i].isspace():  # json-c tokener eats trailing WS
            i += 1
    if i < n and buf[i] == "%":
        i += 1
    else:
        # extradata up to closing '%'
        i += 1
        ed = []
        while i < n:
            if buf[i] == "%":
                i += 1
                break
            ed.append(buf[i])
            i += 1
        conf["extradata"] = unescape("".join(ed))
        # regex needs the PRE-unescape form: its args are colon-split on the
        # raw text (patterns escape ':' as \x3a, which the regex engine
        # itself interprets) — unescaping first would corrupt the split
        conf["extradata_raw"] = "".join(ed)
    append_parser_conf(seq, conf)
    return i


def append_parser_conf(seq: Seq, conf: Any) -> None:
    """Turn a JSON parser config (object | array) into Seq items.

    Mirrors ln_pdagAddParserInternal (src/pdag.c:941-975): array = sequence,
    ``{"type":"alternative","parser":[...]}`` = alternative branches.
    """
    if isinstance(conf, list):
        for sub in conf:
            append_parser_conf(seq, sub)
        return
    if not isinstance(conf, dict):
        raise RulebaseError(f"bad parser config: {conf!r}")
    ftype = conf.get("type")
    if ftype is None:
        raise RulebaseError(f"parser config missing type: {conf!r}")
    if ftype == "alternative":
        parsers = conf.get("parser")
        if not isinstance(parsers, list):
            raise RulebaseError("alternative type needs array of parsers")
        alts = []
        for sub in parsers:
            subseq: Seq = []
            append_parser_conf(subseq, sub)
            alts.append(subseq)
        seq.append(Alt(alts=alts))
        return
    name = conf.get("name")
    if name == "-" or name == "":
        name = None
    user_prio = int(conf.get("priority", DEFAULT_USER_PRIO))
    params = {k: v for k, v in conf.items() if k not in ("name", "priority")}
    if ftype.startswith("@"):
        params["typename"] = ftype
        params["type"] = "custom"
        seq.append(PNode(ptype="custom", name=name, params=params, user_prio=user_prio))
        return
    if ftype == "repeat":
        # compile sub-parsers now (parser/while are Seqs)
        body: Seq = []
        append_parser_conf(body, conf.get("parser", []))
        while_seq: Seq = []
        append_parser_conf(while_seq, conf.get("while", []))
        params["parser_seq"] = body
        params["while_seq"] = while_seq
        # dot-name check (src/parser.c:3180-3208)
        nparsers = len(conf.get("parser", [])) if isinstance(conf.get("parser"), list) else 1
        ndots = sum(
            1
            for p in (conf.get("parser") if isinstance(conf.get("parser"), list) else [conf.get("parser")])
            if isinstance(p, dict) and p.get("name") == "."
        )
        if nparsers > 1 and ndots > 0:
            raise RulebaseError("'repeat' parser supports dot name only with single parser")
    seq.append(PNode(ptype=ftype, name=name, params=params, user_prio=user_prio))
