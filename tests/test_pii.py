"""PII redaction: pattern hits, chaining order, and count semantics."""

import pytest

from bid_evaluation_ext.operators import pii as P


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@sub.example.org today"),
            (2, "server 192.168.0.1 and 10.0.0.255 up"),
            (3, "ssn 123-45-6789 phone 555-123-4567"),
            (4, "nothing sensitive here"),
            (5, "two mails a@b.io c@d.co and ip 1.2.3.4"),
        ],
        "doc_id long, text string",
    )


def by_id(df, key="doc_id"):
    return {r[key]: r.asDict() for r in df.collect()}


def test_redact_each_kind(docs):
    r = by_id(P.redact_pii(docs))
    assert r[1]["text"] == "mail me at <EMAIL> today"
    assert r[2]["text"] == "server <IP> and <IP> up"
    assert r[3]["text"] == "ssn <SSN> phone <PHONE>"
    assert r[4]["text"] == "nothing sensitive here"
    assert r[5]["text"] == "two mails <EMAIL> <EMAIL> and ip <IP>"


def test_counts_on_original(docs):
    r = by_id(P.redact_pii(docs))
    assert (r[5]["n_email"], r[5]["n_ipv4"]) == (2, 1)
    assert (r[3]["n_ssn"], r[3]["n_phone"]) == (1, 1)
    assert all(r[4][k] == 0 for k in ("n_email", "n_ipv4", "n_ssn", "n_phone"))


def test_pii_counts_only(docs):
    r = by_id(P.pii_counts(docs))
    assert r[2]["n_ipv4"] == 2
    assert r[2]["text"].startswith("server 192")  # text untouched


def test_no_counts_flag(docs):
    cols = P.redact_pii(docs, with_counts=False).columns
    assert cols == ["doc_id", "text"]


def test_ssn_phone_disjoint(spark):
    # a phone is not an SSN and vice versa (group widths differ)
    df = spark.createDataFrame(
        [(1, "555-123-4567"), (2, "123-45-6789")], "doc_id long, text string")
    r = by_id(P.redact_pii(df))
    assert r[1]["text"] == "<PHONE>" and r[1]["n_ssn"] == 0
    assert r[2]["text"] == "<SSN>" and r[2]["n_phone"] == 0


def test_email_consumed_before_ip(spark):
    # digits inside an email's domain never surface as an IP match
    df = spark.createDataFrame([(1, "x 10.0.0.1@10.0.0.1.com y")],
                               "doc_id long, text string")
    r = by_id(P.redact_pii(df))
    assert r[1]["text"] == "x <EMAIL> y"


# ---------------------------------------------------- Luhn-validated cards

def test_luhn_known_vectors(spark):
    from bid_evaluation_ext.operators.pii import luhn_valid
    from pyspark.sql import functions as F
    # public test numbers: valid visa/amex; off-by-one invalid
    rows = [("4539148803436467", True), ("4539148803436468", False),
            ("374245455400126", True), ("79927398713", True),
            ("79927398710", False)]
    df = spark.createDataFrame([(s,) for s, _ in rows], "d string")
    got = [r["v"] for r in
           df.select(luhn_valid(F.col("d")).alias("v")).collect()]
    assert got == [v for _, v in rows]


def test_redact_ccn_only_validated(spark):
    from bid_evaluation_ext.operators.pii import redact_ccn
    rows = [
        (0, "pay with 4539 1488 0343 6467 thanks"),
        (1, "order id 4539 1488 0343 6468 is not a card"),
        (2, "amex 374245455400126 and junk 1234567890123"),
        (3, "no digits"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_ccn(df).collect()}
    assert got[0]["text"] == "pay with <CCN> thanks"
    assert got[0]["n_ccn_valid"] == 1
    # wrong check digit: candidate counted, NOT redacted
    assert "4539 1488 0343 6468" in got[1]["text"]
    assert got[1]["n_ccn_candidates"] == 1 and got[1]["n_ccn_valid"] == 0
    assert got[2]["text"] == "amex <CCN> and junk 1234567890123"
    assert got[3]["n_ccn_candidates"] == 0
    assert got[4]["text"] is None and got[4]["n_ccn_candidates"] == 0


def test_redact_ccn_is_plan_native(spark):
    from bid_evaluation_ext.operators.pii import redact_ccn
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    plan = redact_ccn(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
