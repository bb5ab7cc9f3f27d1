"""Dedup and repetition properties on the log path: the logdedup
processor (``processors.log_dedup``) and the regex parser's per-batch
match dedup (``parsers.regex_parse_arrow(batch_dedup=True)``).

The module and test names come from the corpus-prep dedup and
text-scoring operators these tests once covered. Those operators are
deleted; each test now pins the log-path operator that answers the same
question (which records are duplicates, how often a record repeats,
whether non-ASCII text survives parsing and dedup) against
hand-computed or plain-Python expectations.
"""

from __future__ import annotations

import collections
import datetime

from opentelemetry_collector_contrib_spark.operators import parsers, processors
from opentelemetry_collector_contrib_spark.sources import transcripts


def _ts(sec: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, 0, sec)


def test_exact_dedup_finds_planted_duplicates(spark):
    """Records equal on every key column collapse to one row; a record
    differing in any key column (here: severity) stays its own group."""
    df = spark.createDataFrame(
        [
            ("disk full", "ERROR", _ts(1)),
            ("disk full", "ERROR", _ts(3)),
            ("disk full", "WARN", _ts(2)),
            ("all good", "INFO", _ts(0)),
        ],
        ["body", "severity", "ts"],
    )
    out = {
        (r["body"], r["severity"]): r["log_count"]
        for r in processors.log_dedup(df, ["body", "severity"]).collect()
    }
    assert out == {
        ("disk full", "ERROR"): 2,
        ("disk full", "WARN"): 1,
        ("all good", "INFO"): 1,
    }


def test_unicode_text_survives_parse_and_dedup(spark):
    """Non-ASCII log lines parse identically on the JVM regex path and
    the Arrow batch-dedup path, and the extracted message keeps every
    character through logdedup's grouping."""
    msg = "héllo wörld 你好 🎉 items=3"
    line = f"2024-01-01T00:00:00Z INFO svc-1: {msg}"
    df = spark.createDataFrame(
        [(1, line), (2, line), (3, "чистый текст без шаблона")],
        ["doc_id", "text"],
    )
    jvm = parsers.regex_parse(
        df, r"^(\S+) (\w+) ([\w-]+): (.*)$", ["ts", "level", "svc", "msg"]
    )
    arrow = parsers.regex_parse_arrow(
        df,
        r"^(?P<ts>\S+) (?P<level>\w+) (?P<svc>[\w-]+): (?P<msg>.*)$",
        batch_dedup=True,
    )
    cols = ["doc_id", "parse_ok", "ts", "level", "svc", "msg"]
    jvm_rows = sorted(tuple(r) for r in jvm.select(*cols).collect())
    assert jvm_rows == sorted(tuple(r) for r in arrow.select(*cols).collect())
    assert jvm_rows == [
        (1, True, "2024-01-01T00:00:00Z", "INFO", "svc-1", msg),
        (2, True, "2024-01-01T00:00:00Z", "INFO", "svc-1", msg),
        (3, False, None, None, None, None),
    ]
    out = {
        r["msg"]: (r["log_count"], r["first_observed_ts"], r["last_observed_ts"])
        for r in processors.log_dedup(arrow, ["msg"], ts_col="doc_id").collect()
    }
    assert out == {msg: (2, 1, 2), None: (1, 3, 3)}


def test_repetition_signals_hand_computed(spark):
    """logdedup's repetition signals (log_count, first and last observed
    timestamp) against a hand-computed fixture, for the full key and for
    the exclude_fields shape, where the excluded key must not split
    groups."""
    df = spark.createDataFrame(
        [
            ("a", "h1", _ts(1)),
            ("a", "h2", _ts(5)),
            ("a", "h1", _ts(3)),
            ("b", "h1", _ts(2)),
            ("b", "h1", _ts(4)),
        ],
        ["body", "host", "ts"],
    )

    def signals(out, key):
        return {
            tuple(r[k] for k in key): (
                r["log_count"],
                r["first_observed_ts"].second,
                r["last_observed_ts"].second,
            )
            for r in out.collect()
        }

    full = processors.log_dedup(df, ["body", "host"])
    assert signals(full, ["body", "host"]) == {
        ("a", "h1"): (2, 1, 3),
        ("a", "h2"): (1, 5, 5),
        ("b", "h1"): (2, 2, 4),
    }
    excl = processors.log_dedup(df, ["body", "host"], exclude=["host"])
    assert excl.columns == [
        "body", "log_count", "first_observed_ts", "last_observed_ts"
    ]
    assert signals(excl, ["body"]) == {("a",): (3, 1, 5), ("b",): (2, 2, 4)}


def test_repetition_signals_on_documents(spark, sf_dir):
    """logdedup over the whole transcripts table: one row per distinct
    key, every input record counted exactly once, and per-key counts and
    first/last timestamps equal to a plain-Python pass over the rows."""
    key = ["role", "tool"]
    df = transcripts.transcripts_df(spark, sf_dir)
    rows = df.select(*key, "ts").collect()
    expect_n: collections.Counter = collections.Counter()
    expect_ts: dict[tuple, list] = {}
    for r in rows:
        k = (r["role"], r["tool"])
        expect_n[k] += 1
        expect_ts.setdefault(k, []).append(r["ts"])
    out = processors.log_dedup(df, key).collect()
    got = {(r["role"], r["tool"]): r for r in out}
    assert len(got) == len(out) == len(expect_n)
    assert sum(r["log_count"] for r in out) == len(rows) > 0
    for k, r in got.items():
        assert r["log_count"] == expect_n[k], k
        assert r["first_observed_ts"] == min(expect_ts[k]), k
        assert r["last_observed_ts"] == max(expect_ts[k]), k
