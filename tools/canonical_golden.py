#!/usr/bin/env python3
"""Write the payload_hash golden file: Python's own canonical JSON and hash
for a seeded set of inputs, which FunctionsSpec checks CanonicalJson against.

The contract (C3) is the reference's calculate_payload_hash:

    canonical = json.dumps(json.loads(payload), sort_keys=True, separators=(",", ":"))
    hash16    = sha256(canonical.encode("utf-8")).hexdigest()[:16]

and, when json.loads (or json.dumps) raises, the hash of the raw payload.

Each output line is a JSON object: {"input": ..., "canonical": ..., "hash16": ...}
for an accepted payload, {"input": ..., "rejected": true, "hash16": ...} for
a rejected one. Lines are written with ensure_ascii so that lone surrogates
in inputs survive the file.

Usage (stdlib only, offline; same seed, same bytes):

    python3 tools/canonical_golden.py [--seed 20261019] \
        [--out src/test/resources/canonical_golden.jsonl]
"""

import argparse
import hashlib
import json
import math
import random
import struct


def reference(payload):
    """(canonical or None, hash16) as the reference computes them."""
    try:
        canonical = json.dumps(json.loads(payload), sort_keys=True, separators=(",", ":"))
    except (ValueError, RecursionError):
        canonical = None
    body = payload if canonical is None else canonical
    return canonical, hashlib.sha256(body.encode("utf-8")).hexdigest()[:16]


def floats(rnd):
    """Float literals across the exponent range and its edges."""
    fixed = [
        "0.0", "-0.0", "0e0", "-0e-0", "1.0", "-1.5", "0.1", "0.2", "0.3",
        "1e16", "1E16", "1e+16", "10000000000000000.0", "9999999999999998.0",
        "9999999999999999.0", "1e15", "123456789012345678.0", "1.5e16",
        "0.0001", "0.00001", "1e-4", "1e-5", "0.00012345", "1.2345e-5",
        "1e22", "1e23", "2e23", "1.7976931348623157e308", "1.7976931348623159e308",
        "2.2250738585072014e-308", "2.225073858507201e-308",
        "4.9406564584124654e-324", "5e-324", "1e-323", "2.4703282292062328e-324",
        "1e-400", "-1e-400", "1e400", "-1e400", "123456789.0", "3.141592653589793",
        "2.718281828459045", "1152921504606846976.0", "9007199254740993.0",
        "0.30000000000000004", "100.0", "1e2", "12e-1", "-7.0e-3",
    ]
    out = list(fixed)
    # random bit patterns: every exponent, normal and subnormal
    for _ in range(600):
        bits = rnd.getrandbits(64)
        x = struct.unpack("<d", struct.pack("<Q", bits))[0]
        if math.isnan(x) or math.isinf(x):
            continue
        out.append(repr(x))
        out.append("%.17e" % x)
    # decimal exponents one by one, mantissas of varied length
    for e in range(-330, 310, 3):
        digits = str(rnd.randrange(1, 10 ** rnd.randint(1, 17)))
        lit = digits[0] + ("." + digits[1:] if len(digits) > 1 else "") + "e" + str(e)
        out.append(lit)
    # powers of two (asymmetric rounding intervals)
    for k in range(-1074, 1024, 37):
        out.append(repr(2.0 ** k))
    return out


def ints(rnd):
    out = ["0", "-0", "1", "-1", "9223372036854775807", "9223372036854775808",
           "-9223372036854775808", "-9223372036854775809", "18446744073709551615",
           "18446744073709551616", "340282366920938463463374607431768211457"]
    for n in (20, 25, 40, 100, 500):
        out.append(str(rnd.randrange(10 ** (n - 1), 10 ** n)))
        out.append("-" + str(rnd.randrange(10 ** (n - 1), 10 ** n)))
    # CPython >= 3.11 refuses int literals of more than 4300 digits
    out.append("7" * 4300)
    out.append("-" + "7" * 4300)
    out.append("7" * 4301)
    return out


def q(s):
    """A JSON string literal that keeps non-ASCII characters raw."""
    return json.dumps(s, ensure_ascii=False)


def strings(rnd):
    """Keys and values that exercise escaping and code-point key order."""
    cases = []
    astral = ["\U0001F600", "\U00010000", "\U0010FFFF", "\U0001F680"]
    high_bmp = ["\ue000", "\uffff", "\ufffd", "\ufb01"]
    for a in astral:
        for b in high_bmp:
            cases.append("{%s:1,%s:2}" % (q(a), q(b)))
            cases.append("{%s:1,%s:2}" % (q(b + "x"), q(a)))
    # lone and reversed surrogates, as escapes and as raw characters
    for esc in ["\\ud800", "\\udc00", "\\udbff\\udfff", "\\udc00\\ud800", "\\ud800A", "A\\udfff"]:
        cases.append('{"s":"%s"}' % esc)
        cases.append('{"%s":"k"}' % esc)
    cases.append('{"s":"\ud800"}')
    cases.append('["\udfff", "x"]')
    # long strings with one non-ASCII character somewhere, raw (no backslash)
    for odd in ["\u00e9", "\U0001F680", "\u2028", "\ud800", "\u0080", "\uffff"]:
        for lead, tail in ((0, 40), (17, 30), (30, 0), (16, 16)):
            text = "x" * lead + odd + "y" * tail
            cases.append('{%s:%s,"z":%s}' % (q(text), q(text + text), q(text)))
    # every control character, escaped; raw ones are rejected
    for c in range(0x20):
        cases.append('{"c":"\\u%04x"}' % c)
        cases.append('{"c":"a%sb"}' % chr(c))
    for lit in ['"\\/"', '"\\""', '"\\\\"', '"\\b\\f\\n\\r\\t"', '"\\u00e9"', '"\u00e9"',
                '"\u007f"', '"\\u007F"', '"\u0080"', '"\u2028\u2029"', '"caf\\u00E9 \u00e9"']:
        cases.append('{"v":%s}' % lit)
    for _ in range(60):
        def rs():
            out = []
            for _ in range(rnd.randint(0, 8)):
                k = rnd.randrange(6)
                if k == 0:
                    out.append(chr(rnd.randrange(0x20, 0x7f)))
                elif k == 1:
                    out.append(chr(rnd.randrange(0x80, 0xD800)))
                elif k == 2:
                    out.append(chr(rnd.randrange(0xE000, 0x10000)))
                elif k == 3:
                    out.append(chr(rnd.randrange(0x10000, 0x110000)))
                elif k == 4:
                    out.append(chr(rnd.randrange(0, 0x20)))
                else:
                    out.append(rnd.choice("ab\"\\/"))
            return "".join(out)
        obj = {rs(): rs() for _ in range(rnd.randint(1, 6))}
        cases.append(json.dumps(obj, ensure_ascii=rnd.random() < 0.5))
    return cases


def duplicates():
    return [
        '{"a":1,"a":2}', '{"a":1,"b":2,"a":3}', '{"a":{"x":1},"a":[1]}',
        '{"b":1,"a":2,"b":null,"a":"z"}', '{"k":{"d":1,"d":2},"k":{"d":3,"c":4,"d":5}}',
        '[{"a":1,"a":1},{"a":2}]', '{"\\u0061":1,"a":2}', '{"a":2,"\\u0061":1}',
        '{"\U0001F600":1,"\\ud83d\\ude00":2}', '{"x":1,"y":2,"x":3,"y":4,"x":5}',
    ]


def envelope():
    """Literals, trailing tokens, malformed input and deep nesting."""
    cases = [
        'NaN', 'Infinity', '-Infinity', '[NaN,Infinity,-Infinity]',
        '{"v": NaN, "w": Infinity, "x": -Infinity}',
        'INF', '-INF', '+INF', '+Infinity', '-NaN', '+NaN', 'nan', 'inf', 'infinity',
        'Inf', '{"v":-INF}', '{"v":+Infinity}', '{"x":"INF"}', '{"x":"Infinity"}',
        '{}garbage', '{} {}', '[1] ]', '1 2', '"a" "b"', '[1,]', '{"a":1,}', '{}\n',
        ' \t\r\n{"a" : [ 1 , 2 ] }\n\t ', '', ' ', '\ufeff{}', '{}\x0b', '\x0c{}',
        '{"a":1} // c', "{'a':1}", '{a:1}', '01', '-', '1.', '.5', '+1', '1e', '0x10',
        '[1 2]', '{"a" 1}', '{"a":1 "b":2}', 'true', 'false', 'null', '"x"',
        '[true,false,null]', 'tru', 'nul', '[', ']', '{', '}', '{"a":[}', 'not json at all',
        '"unterminated', '"\\x41"', '"\\u12"', '"\\U0041"', '[1,2,3]', '{"a":1}\x00',
    ]
    for depth in (2, 10, 64, 100, 300, 500, 900):
        cases.append("[" * depth + "]" * depth)
        cases.append('{"a":' * depth + "1" + "}" * depth)
    for depth in (1001, 1500, 3000):
        cases.append("[" * depth + "]" * depth)
    cases.append("[" * 50 + "]" * 49)
    return cases


def hexs(rnd, n):
    return "0x" + "".join(rnd.choice("0123456789abcdef") for _ in range(2 * n))


def beacon_block(rnd, slot):
    """An Electra block response in the beacon API's key order."""
    prev = slot - 1

    def att(i):
        return {"aggregation_bits": hexs(rnd, 16),
                "data": {"slot": str(prev), "index": str(i), "beacon_block_root": hexs(rnd, 32),
                         "source": {"epoch": str(prev // 16 - 1), "root": hexs(rnd, 32)},
                         "target": {"epoch": str(prev // 16), "root": hexs(rnd, 32)}},
                "signature": hexs(rnd, 96), "committee_bits": hexs(rnd, 8)}

    body = {
        "randao_reveal": hexs(rnd, 96),
        "eth1_data": {"deposit_root": hexs(rnd, 32), "deposit_count": str(rnd.randrange(10 ** 6)),
                      "block_hash": hexs(rnd, 32)},
        "graffiti": rnd.choice(["0x" + "00" * 32, hexs(rnd, 32)]),
        "proposer_slashings": [], "attester_slashings": [],
        "attestations": [att(i) for i in range(rnd.randint(0, 6))],
        "deposits": [{"proof": [hexs(rnd, 32) for _ in range(3)],
                      "data": {"pubkey": hexs(rnd, 48), "withdrawal_credentials": hexs(rnd, 32),
                               "amount": "32000000000", "signature": hexs(rnd, 96)}}
                     for _ in range(rnd.randint(0, 2))],
        "voluntary_exits": [{"message": {"epoch": str(slot // 16), "validator_index": str(rnd.randrange(10 ** 6))},
                             "signature": hexs(rnd, 96)} for _ in range(rnd.randint(0, 1))],
        "sync_aggregate": {"sync_committee_bits": hexs(rnd, 64), "sync_committee_signature": hexs(rnd, 96)},
        "execution_payload": {
            "parent_hash": hexs(rnd, 32), "fee_recipient": hexs(rnd, 20), "state_root": hexs(rnd, 32),
            "receipts_root": hexs(rnd, 32), "logs_bloom": hexs(rnd, 256), "prev_randao": hexs(rnd, 32),
            "block_number": str(30000000 + slot % 10 ** 6), "gas_limit": "17000000",
            "gas_used": str(21000 * rnd.randint(1, 13)), "timestamp": str(1638993340 + slot * 5),
            "extra_data": "0x", "base_fee_per_gas": rnd.choice(["7", "18446744073709551616"]),
            "block_hash": hexs(rnd, 32),
            "transactions": ["0x02f8" + hexs(rnd, 60)[2:] for _ in range(rnd.randint(0, 5))],
            "withdrawals": [{"index": str(slot * 16 + i), "validator_index": str(rnd.randrange(10 ** 5)),
                             "address": hexs(rnd, 20), "amount": str(10 ** 6 + rnd.randrange(1000))}
                            for i in range(rnd.randint(0, 4))],
            "blob_gas_used": "0", "excess_blob_gas": "0"},
        "bls_to_execution_changes": [],
        "blob_kzg_commitments": [hexs(rnd, 48) for _ in range(rnd.randint(0, 2))],
        "execution_requests": {"deposits": [], "withdrawals": [], "consolidations": []},
    }
    return {"version": "electra", "execution_optimistic": False, "finalized": True,
            "data": {"message": {"slot": str(slot), "proposer_index": str(rnd.randrange(10 ** 5)),
                                 "parent_root": hexs(rnd, 32), "state_root": hexs(rnd, 32),
                                 "body": body},
                     "signature": hexs(rnd, 96)}}


def beacon_validators(rnd):
    return {"execution_optimistic": False, "finalized": True, "data": [
        {"index": str(i), "balance": str(32 * 10 ** 9 + rnd.randrange(10 ** 6)),
         "status": rnd.choice(["active_ongoing", "pending_queued", "exited_unslashed"]),
         "validator": {"pubkey": hexs(rnd, 48), "withdrawal_credentials": hexs(rnd, 32),
                       "effective_balance": "32000000000", "slashed": rnd.random() < 0.1,
                       "activation_eligibility_epoch": "0", "activation_epoch": "0",
                       "exit_epoch": "18446744073709551615", "withdrawable_epoch": "18446744073709551615"}}
        for i in range(rnd.randint(1, 8))]}


def beacon(rnd):
    """About 50 beacon API responses: compact and pretty-printed, in API key order."""
    out = []
    for i in range(40):
        doc = beacon_block(rnd, 21405696 + rnd.randrange(10 ** 6))
        if i % 4 == 0:
            doc["data"]["message"]["body"]["graffiti"] = "h\u00e9llo \U0001F680 \u4e2d"
        ascii_only = i % 8 != 0
        out.append(json.dumps(doc, separators=(",", ":"), ensure_ascii=ascii_only) if i % 2 == 0
                   else json.dumps(doc, indent=2, ensure_ascii=ascii_only))
    for i in range(8):
        out.append(json.dumps(beacon_validators(rnd), separators=(",", ":")))
    out.append(json.dumps({"data": []}))
    out.append(json.dumps({"execution_optimistic": False, "finalized": True,
                           "data": [{"index": "1", "amount": "5", "pubkey": hexs(rnd, 48)}]}))
    return out


def wrap(rnd, lit):
    """A scalar literal at top level, in an object or in an array."""
    k = rnd.randrange(3)
    return lit if k == 0 else ('{"f":%s,"a":[%s]}' % (lit, lit) if k == 1 else "[%s]" % lit)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=20261019)
    ap.add_argument("--out", default="src/test/resources/canonical_golden.jsonl")
    args = ap.parse_args()
    rnd = random.Random(args.seed)
    inputs = ([wrap(rnd, f) for f in floats(rnd)] + [wrap(rnd, i) for i in ints(rnd)]
              + strings(rnd) + duplicates() + envelope() + beacon(rnd))
    with open(args.out, "w", encoding="ascii", newline="\n") as f:
        for payload in inputs:
            canonical, h = reference(payload)
            line = {"input": payload}
            if canonical is None:
                line["rejected"] = True
            else:
                line["canonical"] = canonical
            line["hash16"] = h
            f.write(json.dumps(line) + "\n")
    print("%d cases -> %s" % (len(inputs), args.out))


if __name__ == "__main__":
    main()
