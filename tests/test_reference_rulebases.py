"""Integration: load the reference's shipped rulebases
(/root/reference/rulebases/) and normalize realistic lines through them.
These files predate the version=2 header but use only motifs the v2 engine
(and we) support: date-rfc3164, word, number, char-to, ipv4,
quoted-string, rest."""

import os

import pytest

from liblognorm_spark.compiler.compiler import compile_rulebase
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime.matcher import normalize_strings
from tests.conftest import json_subset_eq

RB_DIR = "/root/reference/rulebases"

# the reference checkout is not vendored; tests/corpus/cases.json is the
# always-on gate, these run whenever the rulebases are present
pytestmark = pytest.mark.skipif(
    not os.path.isdir(RB_DIR),
    reason=f"reference rulebases not found at {RB_DIR}")


def test_messages_rulebase():
    rb = Rulebase.from_file(f"{RB_DIR}/messages.rulebase")
    assert rb.errors == []
    assert len(rb.rules) >= 5
    out = normalize_strings(
        rb,
        [
            "Oct 29 09:47:08 myhost ident: Bad line received from identity server at 10.1.2.3: 113 ",
            "Oct 29 09:47:08 myhost ftpd: FTP LOGIN FROM 192.0.2.1 [192.0.2.1], anonymous",
            "Oct 29 09:47:08 myhost kernel: restart.",
            "total garbage line",
        ],
    )
    json_subset_eq(
        {"date": "Oct 29 09:47:08", "host": "myhost", "tag": "ident",
         "ip": "10.1.2.3", "port": "113"},
        out[0],
    )
    json_subset_eq({"tag": "kernel"}, out[2])
    assert "unparsed-data" in out[3]


def test_cisco_rulebase():
    rb = Rulebase.from_file(f"{RB_DIR}/cisco.rulebase")
    assert rb.errors == []
    assert len(rb.rules) == 5
    crb = compile_rulebase(rb)
    # prefix: date host seqnum: othseq: %tag:   (literal '%' via %%)
    line = (
        "Oct 29 09:47:08 fw01 123456: 000123: %SYS-5-CONFIG_I:"
        " Configured from console by admin (10.0.0.5)"
    )
    out = normalize_strings(crb, [line])[0]
    json_subset_eq(
        {"host": "fw01", "seqnum": "123456", "tag": "SYS-5-CONFIG_I",
         "tty": "admin", "ip": "10.0.0.5"},
        out,
    )


def test_sample_rulebase_loads():
    # sample.rulebase mixes v2-usable rules with v1-only motifs
    # (tokenized/regex at lines 59-66); v2 scope: it must LOAD and the
    # v2-compatible rules must match
    rb = Rulebase.from_string(
        open(f"{RB_DIR}/sample.rulebase").read(), name="sample.rulebase"
    )
    assert len(rb.rules) >= 10
    out = normalize_strings(rb, ['quoted_string="simple quoted string"'])[0]
    json_subset_eq({"quote": '"simple quoted string"'}, out)
