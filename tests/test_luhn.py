"""Luhn credit-card verdicts (luhn._SPARK_VALID, the per-doc signal the
source health report flags) — known valid/invalid PANs, separator
handling, length-window rejection, python-Luhn random ground truth, and
DuckDB value parity against ``cc_sql``.
"""

import os
import random

import duckdb
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.luhn import _SPARK_VALID, cc_sql

SF_DIR = os.environ.get("TSR_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write(tmp_path, rows):
    import pandas as pd

    pd.DataFrame(rows).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _audit(spark, d):
    """``cc_sql``'s rows — ``(doc_id, n_candidates, n_valid,
    has_valid_cc)`` for docs with a candidate — from the Spark verdicts."""
    docs = spark.read.parquet(d + "/documents.parquet")
    flags = docs.select("doc_id", F.expr(_SPARK_VALID).alias("v")).orderBy("doc_id")
    return [
        (r["doc_id"], len(r["v"]), sum(r["v"]), sum(r["v"]) > 0)
        for r in flags.collect()
        if r["v"]
    ]


def _by_doc(spark, d):
    keys = ("doc_id", "n_candidates", "n_valid", "has_valid_cc")
    return {row[0]: dict(zip(keys, row)) for row in _audit(spark, d)}


def _luhn_ok(digits: str) -> bool:
    s = 0
    for i, d in enumerate(reversed(digits)):
        v = int(d)
        if i % 2 == 1:
            v *= 2
            if v > 9:
                v -= 9
        s += v
    return s % 10 == 0


def _make_valid(rng, n_digits):
    body = [rng.randrange(10) for _ in range(n_digits - 1)]
    for check in range(10):
        if _luhn_ok("".join(map(str, body + [check]))):
            return "".join(map(str, body + [check]))
    raise AssertionError


def test_known_pans(spark, tmp_path):
    rows = [
        {"doc_id": 0, "text": "pay with 4111 1111 1111 1111 today", "source": "s"},
        {"doc_id": 1, "text": "fake 4111-1111-1111-1112 checksum", "source": "s"},
        {"doc_id": 2, "text": "no digits at all here", "source": "s"},
        {"doc_id": 3, "text": "order id 123456789012 is short", "source": "s"},  # 12 digits
        {"doc_id": 4, "text": "amex 378282246310005 works", "source": "s"},  # valid 15
    ]
    d = _write(tmp_path, rows)
    got = _by_doc(spark, d)
    assert got[0]["n_valid"] == 1 and got[0]["has_valid_cc"]
    assert got[1]["n_candidates"] == 1 and got[1]["n_valid"] == 0
    assert 2 not in got and 3 not in got  # no candidate rows at all
    assert got[4]["has_valid_cc"]


def test_adjacent_digit_groups_do_not_mask_cards(spark, tmp_path):
    # ADVICE r3: the old fully-unbounded candidate pattern merged a valid
    # card with ANY adjacent single-separator digit group ("... 99",
    # "... 2023"), so the 13-16 guard rejected the merged run — a false
    # negative that let real PANs past the audit.  Separators are now only
    # accepted at group boundaries, so the card extracts alone.
    rows = [
        {"doc_id": 0, "text": "4111111111111111 99", "source": "s"},
        {"doc_id": 1, "text": "card 4111 1111 1111 1111 2023 exp", "source": "s"},
        {"doc_id": 2, "text": "id 1234 4111-1111-1111-1111 end", "source": "s"},
        {"doc_id": 3, "text": "amex 3782 822463 10005 pin 99", "source": "s"},
        # residual documented merges: digits glued with NO separator, digits
        # glued to the last group, and same-separator 4-digit junk adjacent
        # to a grouped card all still extract-whole-and-reject (the
        # anti-truncation intent; lookbehind would fix the last one but RE2
        # lacks it — see module docstring)
        {"doc_id": 4, "text": "12344111111111111111", "source": "s"},
        {"doc_id": 5, "text": "4111 1111 1111 111199", "source": "s"},
        {"doc_id": 6, "text": "2023 4111 1111 1111 1111", "source": "s"},
    ]
    d = _write(tmp_path, rows)
    got = _by_doc(spark, d)
    for i in (0, 1, 2, 3):
        assert got[i]["has_valid_cc"], (i, got.get(i))
    for i in (4, 5, 6):
        assert not got[i]["has_valid_cc"], (i, got.get(i))
    # and the adversarial set agrees byte-for-byte across engines (the
    # alternation-order / leftmost-first pin for Java regex vs RE2)
    got_rows = _audit(spark, d)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    want = [tuple(r) for r in con.execute(cc_sql()).fetchall()]
    assert got_rows == want


def test_long_ids_not_truncated_to_cards(spark, tmp_path):
    # Review finding: a bounded {12,15} repetition truncated 17+-digit ids
    # to a 16-digit prefix that passes Luhn ~10% of the time.  The unbounded
    # pattern extracts the whole run and the 13-16 guard rejects it.
    rows = [
        # 20-digit id whose 16-digit prefix IS Luhn-valid
        {"doc_id": 0, "text": "account 16487059640235925634 end", "source": "s"},
        {"doc_id": 1, "text": "id 12345678901234567 x", "source": "s"},  # 17 digits
    ]
    d = _write(tmp_path, rows)
    got = _by_doc(spark, d)
    for i in (0, 1):
        assert got[i]["n_candidates"] == 1
        assert got[i]["n_valid"] == 0 and not got[i]["has_valid_cc"]


def test_grouped_long_ids_not_truncated(spark, tmp_path):
    # ADVICE r4: 17-19 digit GROUPED ids (4-4-4-4-x, real Visa/UnionPay PAN
    # layouts) must extract whole and fail the 13-16 guard — the earlier
    # grouped alternative stopped at the fourth group and Luhn-tested the
    # 16-digit prefix (chance ~10% false positive).  A trailing 4+-digit
    # same-separator group ("2023") merges into the candidate but is
    # STRIPPED back off in the checksum stage (it cannot be the last group
    # of a ≤19-digit PAN), so the ADVICE-r3 year false-negative stays fixed.
    rows = [
        # 19-digit grouped; its 16-digit prefix IS Luhn-valid (4111...)
        {"doc_id": 0, "text": "id 4111 1111 1111 1111 123 end", "source": "s"},
        {"doc_id": 1, "text": "id 4111-1111-1111-1111-123 end", "source": "s"},
        # 17-digit grouped 4-4-4-5 (over-length last group, old behavior)
        {"doc_id": 2, "text": "id 4111 1111 1111 11111 end", "source": "s"},
        # valid card + 4-digit junk group: card still detected alone
        {"doc_id": 3, "text": "card 4111 1111 1111 1111 2023 exp", "source": "s"},
        # plain 16-digit grouped card unaffected
        {"doc_id": 4, "text": "pay 4111 1111 1111 1111 now", "source": "s"},
    ]
    d = _write(tmp_path, rows)
    got = _by_doc(spark, d)
    for i in (0, 1, 2):
        assert got[i]["n_candidates"] == 1, (i, got.get(i))
        assert not got[i]["has_valid_cc"], (i, got.get(i))
    for i in (3, 4):
        assert got[i]["has_valid_cc"], (i, got.get(i))
    # cross-engine agreement on the new alternation (leftmost-first pin)
    got_rows = _audit(spark, d)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    want = [tuple(r) for r in con.execute(cc_sql()).fetchall()]
    assert got_rows == want


def test_random_ground_truth(spark, tmp_path):
    rng = random.Random(41)
    rows, truth = [], {}
    for i in range(60):
        if i % 3 == 0:
            pan = _make_valid(rng, rng.choice([13, 15, 16]))
            valid = True
        else:
            pan = "".join(str(rng.randrange(10)) for _ in range(rng.choice([13, 16])))
            valid = _luhn_ok(pan)
        rows.append({"doc_id": i, "text": f"ref {pan} end", "source": "s"})
        truth[i] = valid
    d = _write(tmp_path, rows)
    got = _by_doc(spark, d)
    for i, valid in truth.items():
        assert got[i]["has_valid_cc"] == valid, (i, got[i])


def test_duckdb_parity(spark, tmp_path):
    rng = random.Random(43)
    rows = []
    for i in range(40):
        pan = _make_valid(rng, 16) if i % 2 else "".join(
            str(rng.randrange(10)) for _ in range(14)
        )
        sep = rng.choice(["", " ", "-"])
        shown = sep.join(pan[j:j + 4] for j in range(0, len(pan), 4))
        rows.append({"doc_id": i, "text": f"x {shown} y {i}", "source": "s"})
    d = _write(tmp_path, rows)
    got = _audit(spark, d)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    want = [tuple(r) for r in con.execute(cc_sql()).fetchall()]
    assert got == want
    assert len(got) == 40


def test_duckdb_parity_sf(spark):
    got = _audit(spark, SF_DIR)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(cc_sql()).fetchall()]
    assert got == want
