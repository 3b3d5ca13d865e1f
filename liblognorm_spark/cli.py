"""lognormalizer-equivalent CLI (reference: src/lognormalizer.c:343-530).

Flags mirror the reference: -r/-R rulebase, -e encoder, -E encoder extra
(csv field list), -p parsed-only, -P unparsed-only, -t tag filter, -T add
originalmsg, -H summary, -s rule-stats.  Small inputs run the in-process
batch matcher; --spark runs the same operators as a Spark job (the 100 TB
path: spark-submit --py-files liblognorm_spark.zip -m liblognorm_spark.cli
--spark ...).
"""

from __future__ import annotations

import argparse
import json as _json
import sys

# flags whose output only the in-process path produces: --spark refuses
# them rather than silently ignoring them
SPARK_REFUSED = (("-T", "add_original"), ("-L", "line_nbr"), ("-U", "nbr_unparsed"),
                 ("-H", "summary"), ("-s", "stats"), ("-S", "ext_stats_file"),
                 ("-x", "stats_dot_file"), ("-v", "verbose"))


def build_parser():
    p = argparse.ArgumentParser(prog="lognorm-spark", description=__doc__)
    p.add_argument("-r", dest="rulebase", help="rulebase file")
    p.add_argument("-R", dest="rulebase_string", help="rulebase as string")
    p.add_argument("-e", dest="encoder", default="json",
                   choices=["json", "xml", "csv", "rfc5424", "raw"])
    p.add_argument("-E", dest="encoder_extra", default="",
                   help="encoder extra data (csv: comma/space field list)")
    p.add_argument("-p", dest="parsed_only", action="store_true",
                   help="output only correctly parsed messages")
    p.add_argument("-P", dest="unparsed_only", action="store_true",
                   help="output only messages NOT parsed")
    p.add_argument("-t", dest="tag", help="output only events with this tag")
    p.add_argument("-T", dest="add_original", action="store_true",
                   help="include originalmsg in parsed events")
    p.add_argument("-U", dest="nbr_unparsed", action="store_true",
                   help="print number of unparsed messages to stderr (if non-zero)")
    p.add_argument("-L", dest="line_nbr", action="store_true",
                   help="add lognormalizer.line_nbr to unparsed events")
    p.add_argument("-o", dest="ctx_opts", action="append", default=[],
                   metavar="OPT",
                   help="context option: allowRegex, addExecPath, "
                        "addOriginalMsg, addRule, addRuleLocation")
    p.add_argument("-S", dest="ext_stats_file", metavar="FILE",
                   help="write extended per-rule statistics ('-' = stdout)")
    p.add_argument("-x", dest="stats_dot_file", metavar="FILE",
                   help="write rulebase DOT annotated with match counts")
    p.add_argument("-v", dest="verbose", action="count", default=0,
                   help="verbose output to stderr (repeat for more: >1 tag "
                        "diagnostics, >2 dump the compiled rulebase)")
    p.add_argument("-V", dest="version", action="store_true",
                   help="print version information and exit")
    p.add_argument("-H", dest="summary", action="store_true",
                   help="print a summary line (records/parsed/unparsed)")
    p.add_argument("-s", dest="stats", action="store_true",
                   help="print per-rule hit stats to stderr")
    p.add_argument("-d", dest="dot_file",
                   help="write a DOT graph of the compiled rulebase and exit")
    p.add_argument("--spark", action="store_true", help="run distributed via Spark")
    p.add_argument("--text-col", default="value", help="text column (--spark parquet input)")
    p.add_argument("--out", dest="out_dir", metavar="DIR",
                   help="with --spark: write results to a parquet sink tree "
                        "(partitioned by sink) instead of printing rows "
                        "through the driver")
    p.add_argument("input", nargs="?", help="input file (default stdin)")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    if args.version:
        # lognormalizer.c:283-290 printVersion: version lines to stderr,
        # then exit 1 (the reference exits non-zero on -V)
        from liblognorm_spark import __version__

        print(f"lognormalizer version: {__version__}", file=sys.stderr)
        print("liblognorm version: 2.1.0 (liblognorm_spark "
              f"{__version__} compatible)", file=sys.stderr)
        print("\tadvanced stats: not available", file=sys.stderr)
        return 1
    if args.spark:
        for flag, dest in SPARK_REFUSED:
            if getattr(args, dest):
                print(f"error: {flag} is not supported with --spark", file=sys.stderr)
                return 1
    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.encoders import ENCODERS
    from liblognorm_spark.rulebase.loader import Rulebase

    VALID_OPTS = {"allowRegex", "addExecPath", "addOriginalMsg", "addRule", "addRuleLocation"}
    for o in args.ctx_opts:
        if o not in VALID_OPTS:  # lognormalizer.c:304: invalid -o exits 1
            print(f"invalid -o option '{o}'", file=sys.stderr)
            return 1
    opts = frozenset(args.ctx_opts)

    if args.rulebase and args.rulebase_string:
        # lognormalizer.c:481-484: -r and -R are mutually exclusive
        print("error: both -r and -R given", file=sys.stderr)
        return 1
    if args.rulebase_string:
        rb = Rulebase.from_string(args.rulebase_string, opts=opts)
    elif args.rulebase:
        try:
            rb = Rulebase.from_file(args.rulebase, opts=opts)
        except OSError as e:
            print(f"error: cannot open rulebase '{args.rulebase}': {e.strerror}", file=sys.stderr)
            return 1
    else:
        print("error: no rulebase (-r/-R)", file=sys.stderr)
        return 1
    for e in rb.errors:
        print(f"rulebase error: {e}", file=sys.stderr)
    crb = compile_rulebase(rb)
    if args.verbose > 0:
        # lognormalizer.c:504: "number of tree nodes" after rulebase load
        print(f"number of tree nodes: {len(crb.rules)}", file=sys.stderr)
    if args.verbose > 2:
        # ln_displayPDAG analogue: dump the compiled rulebase graph
        from liblognorm_spark.compiler.dot import rulebase_to_dot

        print(rulebase_to_dot(crb), file=sys.stderr)
    if args.dot_file:
        from liblognorm_spark.compiler.dot import rulebase_to_dot

        with open(args.dot_file, "w") as f:
            f.write(rulebase_to_dot(crb))
        return 0
    csv_fields = [f for f in args.encoder_extra.replace(" ", ",").split(",") if f]
    enc = ENCODERS[args.encoder]

    if args.spark:
        return _main_spark(args, crb, csv_fields)

    if args.input:
        with open(args.input, encoding="utf-8", errors="surrogateescape") as f:
            lines = [ln.rstrip("\r\n") for ln in f]
    else:
        lines = [ln.rstrip("\r\n") for ln in sys.stdin]

    from liblognorm_spark.runtime.matcher import match_batch

    import pandas as pd

    res = match_batch(crb, pd.Series(lines, dtype=object))
    num_parsed = num_unparsed = num_wrongtag = 0
    rule_hits: dict[int, int] = {}
    for i in range(len(res)):
        if args.verbose > 0:  # lognormalizer.c:231
            print(f"To normalize: '{lines[i]}'", file=sys.stderr)
        unparsed = res["unparsed_data"][i] is not None
        if unparsed:
            num_unparsed += 1
        else:
            num_parsed += 1
            rid = int(res["rule_id"][i])
            rule_hits[rid] = rule_hits.get(rid, 0) + 1
        if args.parsed_only and unparsed:
            continue
        if args.unparsed_only and not unparsed:
            continue
        ev = _json.loads(res["fields_json"][i]) if res["fields_json"][i] else {}
        if args.tag:
            if args.tag not in (ev.get("event.tags") or []):
                num_wrongtag += 1
                if args.verbose > 1:  # lognormalizer.c:162 (stdout, not stderr)
                    print(f"Mandatory tag '{args.tag}' has not been found")
                continue
        if args.add_original and not unparsed:
            ev["originalmsg"] = lines[i]
        if args.line_nbr and unparsed:
            # lognormalizer.c:167-176 amendLineNbr (1-based input line)
            ev["lognormalizer.line_nbr"] = i + 1
        encoded = enc(ev, csv_fields)
        if args.verbose > 0:  # lognormalizer.c:135
            print(f"normalized: '{encoded}'", file=sys.stderr)
        print(encoded)
    if args.nbr_unparsed and num_unparsed > 0:
        print(f"{num_unparsed} unparsable entries", file=sys.stderr)
    if num_wrongtag > 0:
        print(f"{num_wrongtag} entries with wrong tag dropped", file=sys.stderr)
    if args.summary:
        print(f"{len(lines)} records processed, {num_parsed} parsed, {num_unparsed} unparsed",
              file=sys.stderr)
    if args.stats:
        by_id = {cr.rule_id: cr.rule for cr in crb.rules}
        for rid, n in sorted(rule_hits.items(), key=lambda kv: -kv[1]):
            r = by_id.get(rid)
            loc = f"{r.rb_file}:{r.rb_line}" if r else "?"
            print(f"rule {rid} ({loc}): {n} matches", file=sys.stderr)
    if args.ext_stats_file:
        _write_ext_stats(args.ext_stats_file, crb, rule_hits, num_unparsed)
    if args.stats_dot_file:
        from liblognorm_spark.compiler.dot import rulebase_to_dot

        with open(args.stats_dot_file, "w") as f:
            f.write(rulebase_to_dot(crb, hits=rule_hits))
    return 0


def _write_ext_stats(path: str, crb, rule_hits: dict[int, int], num_unparsed: int) -> None:
    """Extended per-rule statistics (-S; the pdag-stats analogue of
    lognormalizer.c:389-403).  '-' writes to stdout."""
    out = sys.stdout if path == "-" else open(path, "w")
    try:
        out.write("rule_id\tfile\tline\tmatches\ttags\n")
        for cr in crb.rules:
            n = rule_hits.get(cr.rule_id, 0)
            out.write(
                f"{cr.rule_id}\t{cr.rule.rb_file}\t{cr.rule.rb_line}\t{n}\t"
                f"{','.join(cr.tags)}\n"
            )
        out.write(f"unparsed\t-\t-\t{num_unparsed}\t-\n")
    finally:
        if out is not sys.stdout:
            out.close()


def _main_spark(args, crb, csv_fields) -> int:
    from pyspark.sql import functions as F

    from liblognorm_spark.encoders import encode_df
    from liblognorm_spark.pipeline.pipeline import route_stage, write_sinks
    from liblognorm_spark.runtime.matcher import normalize_df
    from liblognorm_spark.session import get_spark

    spark = get_spark(app="lognorm-spark-cli")
    if args.input and args.input.endswith(".parquet"):
        df = spark.read.parquet(args.input)
        text_col = args.text_col
    else:
        df = spark.read.text(args.input)
        text_col = "value"
    out = normalize_df(df, crb, text_col=text_col)
    if args.parsed_only:
        out = out.filter(F.col("unparsed_data").isNull())
    if args.unparsed_only:
        out = out.filter(F.col("unparsed_data").isNotNull())
    if args.tag:
        out = out.filter(F.array_contains(F.col("tags"), args.tag))
    if args.out_dir:
        # real-use path: encode + fan out to a partitioned sink tree on the
        # executors — nothing is funneled through the driver
        routed = encode_df(route_stage(out), args.encoder, csv_fields)
        write_sinks(routed.select("sink", "encoded"), args.out_dir)
        return 0
    out = encode_df(out, args.encoder, csv_fields)
    # CLI-parity path: rows print through the driver (fine for interactive
    # use; pass --out for bulk jobs)
    for row in out.select("encoded").toLocalIterator():
        print(row[0])
    return 0


if __name__ == "__main__":
    sys.exit(main())
