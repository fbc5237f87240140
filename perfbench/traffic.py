"""Seeded Firehose traffic and an independent Python oracle for it.

The generator builds Route53 Resolver query-log records, wraps them in
Firehose HTTP-endpoint envelopes and predicts, byte for byte, what the
pipeline must produce for each record:

- a valid record becomes 1 query line plus one reply line per answer
  (0-3 answers, exercising the 1 -> 1+N fan-out);
- a poison record (about 3%) lands in quarantine with one predicted
  ``reject_reason``, spread over every reason class the validator has.

The oracle is written from the record format alone: it shares no code with
the package under test. It assumes the pipeline runs with
``deterministic_ids=True``, where the client id is ``record_idx`` as
``@0x%012x``.

Each record's ``query_name`` carries its request's sequence number
(``q<seq>-<idx>.bench.example.``), so a syslog collector can attribute a
datagram to the request that caused it.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import random
import re
from dataclasses import dataclass, field

RECORDS_PER_REQUEST = 500
POISON_SHARE = 0.03
SYSLOG_PRI = 30  # daemon.info, the priority the sink prefixes

#: Scalar fields in the order the validator checks them; a record missing
#: one of them is rejected as ``missing_or_invalid:<field>``.
SCALAR_FIELDS = (
    "version",
    "account_id",
    "region",
    "vpc_id",
    "query_timestamp",
    "query_name",
    "query_type",
    "query_class",
    "rcode",
    "srcaddr",
    "srcport",
    "transport",
)

#: Every reject reason the validator can give, with how to produce it.
POISON_KINDS = (
    "decode_error",
    "json_parse_error",
    *(f"missing_or_invalid:{f}" for f in SCALAR_FIELDS),
    "missing_or_invalid:answers",
    "answer_missing_rdata_or_type",
    "srcids_missing_instance",
    "bad_query_timestamp",
)

_QNAME_SEQ = re.compile(rb"\(q(\d+)-\d+\.bench\.example\.\): ")
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_ANSWER_TYPES = ("A", "AAAA", "CNAME", "TXT")
_REGIONS = ("us-east-1", "eu-west-1", "ap-south-1")
_RCODES = ("NOERROR", "NXDOMAIN", "SERVFAIL")


@dataclass
class Request:
    """One Firehose delivery request and what the pipeline owes for it."""

    seq: int
    request_id: str
    body: bytes
    #: (record_idx, line_no) -> expected BIND9 line, for valid records
    lines: dict[tuple[int, int], str] = field(default_factory=dict)
    #: record_idx -> expected reject_reason, for poison records
    poison: dict[int, str] = field(default_factory=dict)
    n_records: int = 0


def seq_of_datagram(datagram: bytes) -> int | None:
    """Request sequence number carried in a syslog datagram, if any."""
    m = _QNAME_SEQ.search(datagram)
    return int(m.group(1)) if m else None


def _valid_record(rng: random.Random, seq: int, idx: int) -> dict:
    ts = _EPOCH + dt.timedelta(seconds=rng.randrange(30 * 86400))
    answers = []
    for _ in range(rng.randrange(4)):
        rtype = rng.choice(_ANSWER_TYPES)
        rdata = (
            f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}"
            if rtype == "A"
            else f"rdata-{rng.randrange(10**6)}.example."
        )
        answers.append({"Rdata": rdata, "Type": rtype})
    return {
        "version": "1.100000",
        "account_id": f"{rng.randrange(10**12):012d}",
        "region": rng.choice(_REGIONS),
        "vpc_id": f"vpc-{rng.randrange(16**8):08x}",
        "query_timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "query_name": f"q{seq}-{idx}.bench.example.",
        "query_type": rng.choice(_ANSWER_TYPES),
        "query_class": "IN",
        "rcode": rng.choice(_RCODES),
        "answers": answers,
        "srcaddr": f"172.16.{rng.randrange(256)}.{rng.randrange(256)}",
        "srcport": str(rng.randrange(1024, 65536)),
        "transport": rng.choice(("UDP", "TCP")),
        "srcids": {"instance": f"i-{rng.randrange(16**12):012x}"},
    }


def expected_lines(rec: dict, record_idx: int) -> list[str]:
    """The BIND9 lines the pipeline must emit for a valid record."""
    ts = dt.datetime.strptime(rec["query_timestamp"], "%Y-%m-%dT%H:%M:%SZ")
    client = "@0x%012x" % (record_idx % (1 << 48))
    qname = rec["query_name"]
    prefix = (
        f"{ts.strftime('%b %d %H:%M:%S')} {rec['vpc_id']} route53resolver: "
        f"{ts.strftime('%d-%b-%Y %H:%M:%S')}.000 client {client} "
        f"{rec['srcaddr']}#{rec['srcport']} ({qname}): "
    )
    answers = rec["answers"]
    qtype = answers[0]["Type"] if answers else "A"
    out = [f"{prefix}query: {qname} IN {qtype} + (127.0.0.1)"]
    out += [f"{prefix}reply: {qname} is {a['Rdata']}" for a in answers]
    return out


def _poison_payload(rng: random.Random, rec: dict, kind: str) -> bytes:
    """A record payload (base64 text) the validator rejects as ``kind``."""
    if kind == "decode_error":
        if rng.random() < 0.5:
            return b"@@not base64@@"
        return base64.b64encode(b"\xff\xfe invalid utf-8")
    if kind == "json_parse_error":
        return base64.b64encode(b"{not json")
    rec = dict(rec)
    if kind.startswith("missing_or_invalid:"):
        del rec[kind.split(":", 1)[1]]
    elif kind == "answer_missing_rdata_or_type":
        rec["answers"] = [{"Type": "A"}]
    elif kind == "srcids_missing_instance":
        rec["srcids"] = {}
    elif kind == "bad_query_timestamp":
        rec["query_timestamp"] = rec["query_timestamp"].replace("T", " ")
    else:
        raise ValueError(f"unknown poison kind {kind!r}")
    return base64.b64encode(json.dumps(rec).encode())


def make_request(rng: random.Random, seed: int, seq: int) -> Request:
    """Generate one envelope of ``RECORDS_PER_REQUEST`` records with its oracle."""
    req = Request(seq=seq, request_id=f"bench-{seed}-{seq}", body=b"", n_records=RECORDS_PER_REQUEST)
    records = []
    for idx in range(RECORDS_PER_REQUEST):
        rec = _valid_record(rng, seq, idx)
        if rng.random() < POISON_SHARE:
            kind = POISON_KINDS[(seq * RECORDS_PER_REQUEST + idx) % len(POISON_KINDS)]
            data = _poison_payload(rng, rec, kind)
            req.poison[idx] = kind
        else:
            data = base64.b64encode(json.dumps(rec).encode())
            for line_no, line in enumerate(expected_lines(rec, idx)):
                req.lines[(idx, line_no)] = line
        records.append({"data": data.decode("ascii", errors="replace")})
    envelope = {
        "requestId": req.request_id,
        "timestamp": 1704067200000 + seq,
        "records": records,
    }
    req.body = json.dumps(envelope).encode()
    return req


def make_traffic(seed: int, n_requests: int) -> list[Request]:
    """``n_requests`` requests, the same for the same seed."""
    return [make_request(random.Random(f"{seed}:{seq}"), seed, seq) for seq in range(n_requests)]
