"""Round-5 tests: the ADVICE defect fixes, the new Gopher gates, the
uap-core bot/webview/TV UserAgent blocks, the exact_sample materialize
lifecycle, and the config-driven training-data DAG.

ADVICE defects pinned here:
  1. filter_drop(drop_ratio) hashed map-typed columns with xxhash64 →
     AnalysisException under spark.sql.legacy.allowHashOnMapType=false
  2. write_routed max_backups deleted the current write's own files
     (covered in tests/test_plans.py::test_write_routed_max_megabytes_
     and_backups)
  3. csv_parse_dynamic raised DUPLICATE_MAP_KEY on duplicate headers
     (reference MapCSVHeaders: last value silently wins)
  4. exact_sample(large_k=True) left the survivor frame persisted with
     no caller handle
  5. OTTL time ± duration truncated ns→µs toward zero via a double
     divide (Go does exact integer ns arithmetic; floor semantics)
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import (
    ottl,
    parsers,
    transformers,
)
from opentelemetry_collector_contrib_spark.operators.useragent import (
    user_agent_map,
)
from opentelemetry_collector_contrib_spark.functions import sampling as sp
from opentelemetry_collector_contrib_spark.functions import text as tx


# --- 1. filter_drop with map columns -------------------------------------


def test_filter_drop_ratio_with_map_column(spark):
    """A frame carrying a map column (csv_parse_dynamic output,
    attribute maps) must not fail analysis: map columns hash via their
    to_json rendering."""
    df = spark.createDataFrame(
        [(i, "sys" if i % 2 else "usr", {"k": str(i)}) for i in range(200)],
        ["id", "role", "attrs"],
    )
    out = transformers.filter_drop(
        df, F.col("role") == "sys", drop_ratio=0.5, seed=7
    )
    n1 = out.count()
    n2 = transformers.filter_drop(
        df, F.col("role") == "sys", drop_ratio=0.5, seed=7
    ).count()
    assert n1 == n2  # deterministic under re-execution
    assert 100 <= n1 < 200  # non-matching rows all survive, some drops


def test_filter_drop_ratio_nested_map_column(spark):
    df = spark.createDataFrame(
        [(i, [{"k": "v"}]) for i in range(50)], ["id", "arr_of_map"]
    )
    out = transformers.filter_drop(df, F.col("id") < 25, drop_ratio=0.4)
    assert out.count() >= 25


# --- 3. csv_parse_dynamic duplicate headers ------------------------------


def test_csv_dynamic_duplicate_headers_last_wins(spark):
    df = spark.createDataFrame(
        [("a,b,a", "1,2,3"), ("x,y,z", "7,8,9")], ["hdr", "text"]
    )
    rows = {
        r["hdr"]: r
        for r in parsers.csv_parse_dynamic(
            df, header_from="hdr", parse_from="text"
        ).collect()
    }
    assert rows["a,b,a"]["parse_ok"]
    # Go's MapCSVHeaders assigns in order: the LAST duplicate wins
    assert rows["a,b,a"]["csv"] == {"a": "3", "b": "2"}
    assert rows["x,y,z"]["csv"] == {"x": "7", "y": "8", "z": "9"}


# --- 5. OTTL time ± duration floor semantics -----------------------------


def test_ottl_time_minus_submicro_duration_floors(spark):
    """t - 1500ns: exact ns result is t*1000ns - 1500, representable at
    µs grain only by flooring to base-2µs. The old double-divide
    truncation gave base-1µs."""
    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    df = spark.createDataFrame([(t0,)], ["ts"])
    out = ottl.apply_statements(
        df, ['set(ts, ts - Duration("1500ns"))']
    ).collect()[0]
    assert out["ts"] == datetime.datetime(
        2025, 12, 31, 23, 59, 59, 999998
    )
    # addition keeps plain floor: +1500ns -> +1µs
    out2 = ottl.apply_statements(
        df, ['set(ts, ts + Duration("1500ns"))']
    ).collect()[0]
    assert out2["ts"] == datetime.datetime(2026, 1, 1, 0, 0, 0, 1)


# --- 4. exact_sample materialize lifecycle -------------------------------


def test_exact_sample_materialize_releases_cache(spark):
    df = spark.range(0, 5000).withColumn("key", F.col("id").cast("string"))
    base = sp.exact_sample(df, 400, "key", seed=3, large_k=True)
    ids_base = sorted(r["id"] for r in base.collect())

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    mat = sp.exact_sample(
        df, 400, "key", seed=3, large_k=True, materialize=True
    )
    ids_mat = sorted(r["id"] for r in mat.collect())
    assert ids_mat == ids_base  # same sample either way
    after = jsc.getPersistentRDDs().size()
    # the survivor frame is unpersisted before returning; only the
    # localCheckpoint of the (sample-sized) result itself may remain
    assert after <= before + 1


# --- Gopher gates --------------------------------------------------------


def test_gopher_gates_hand_computed(spark):
    good = "the quick brown fox jumps over the lazy dog " * 5  # 45 words
    symbolic = "# " * 30 + "the end"  # 32 words, 30 '#' -> ratio ~0.9
    bullets = "\n".join("- item %d" % i for i in range(10))  # all bullet
    ellipses = "\n".join("to be continued..." for _ in range(10))
    numbers = "1 2 3 4 5 6 7 8 9 10 " * 5  # 50 words, zero alpha words
    short = "too short"
    df = spark.createDataFrame(
        [
            (1, good), (2, symbolic), (3, bullets),
            (4, ellipses), (5, numbers), (6, short),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in tx.gopher_gates(df, min_words=20).collect()
    }
    assert out[1]["gopher_ok"]
    assert out[1]["n_words"] == 45
    assert out[1]["alpha_word_frac"] == 1.0
    assert out[1]["bullet_line_frac"] == 0.0

    # '#' is not an alnum token: 30 symbols over 2 words ("the end")
    assert not out[2]["gopher_ok"]
    assert out[2]["symbol_word_ratio"] == pytest.approx(30 / 2)

    assert not out[3]["gopher_ok"]  # 100% bullet lines > 90%
    assert out[3]["bullet_line_frac"] == 1.0

    assert not out[4]["gopher_ok"]  # 100% ellipsis lines > 30%
    assert out[4]["ellipsis_line_frac"] == 1.0
    # '...' also counts toward the symbol ratio
    assert out[4]["symbol_word_ratio"] > 0.1

    assert not out[5]["gopher_ok"]  # alpha-word fraction 0 < 0.8
    assert out[5]["alpha_word_frac"] == 0.0

    assert not out[6]["gopher_ok"]  # 2 words < min_words
    assert out[6]["n_words"] == 2


# --- UserAgent bot/webview/TV blocks -------------------------------------

UA_CASES = [
    # (user agent, family, version) — uap-core-style expectations
    (
        "Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; "
        "Googlebot/2.1; +http://www.google.com/bot.html) "
        "Chrome/120.0.6099.0 Safari/537.36",
        "Googlebot", "2.1",
    ),
    ("Googlebot-Image/1.0", "Googlebot-Image", "1.0"),
    (
        "Mozilla/5.0 (compatible; bingbot/2.0; "
        "+http://www.bing.com/bingbot.htm)",
        "bingbot", "2.0",
    ),
    (
        "DuckDuckBot/1.0; (+http://duckduckgo.com/duckduckbot.html)",
        "DuckDuckBot", "1.0",
    ),
    (
        "Mozilla/5.0 (compatible; Baiduspider/2.0; "
        "+http://www.baidu.com/search/spider.html)",
        "Baiduspider", "2.0",
    ),
    ("Mozilla/5.0 (compatible; YandexBot/3.0; +http://yandex.com/bots)",
     "YandexBot", "3.0"),
    (
        # real Applebot UA embeds a full Safari signature — the bot
        # block must win over Version/..Safari
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_10_1) "
        "AppleWebKit/600.2.5 (KHTML, like Gecko) Version/8.0.2 "
        "Safari/600.2.5 (Applebot/0.1; +http://www.apple.com/go/applebot)",
        "Applebot", "0.1",
    ),
    ("Twitterbot/1.0", "Twitterbot", "1.0"),
    (
        "facebookexternalhit/1.1 "
        "(+http://www.facebook.com/externalhit_uatext.php)",
        "facebookexternalhit", "1.1",
    ),
    ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko); compatible; "
     "GPTBot/1.2; +https://openai.com/gptbot", "GPTBot", "1.2"),
    ("Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)",
     "AhrefsBot", "7.0"),
    # version tag "7~bl" is not numeric -> empty version, family still hit
    ("Mozilla/5.0 (compatible; SemrushBot/7~bl; "
     "+http://www.semrush.com/bot.html)", "SemrushBot", ""),
    ("WhatsApp/2.19.81 A", "WhatsApp", "2.19.81"),
    ("TelegramBot (like TwitterBot)", "TelegramBot", ""),
    ("Mozilla/5.0 (compatible; PetalBot;+https://webmaster.petalsearch.com/"
     "site/petalbot)", "PetalBot", ""),
    # in-app webviews
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 12_3_1 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 "
        "Instagram 97.0.0.32.119",
        "Instagram", "97.0.0",
    ),
    (
        "Mozilla/5.0 (Linux; Android 12; SM-G991B Build/SP1A; wv) "
        "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
        "Chrome/100.0.4896.88 Mobile Safari/537.36 "
        "[FB_IAB/FB4A;FBAV/364.0.0.26.132;]",
        "Facebook", "364.0.0",
    ),
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 16_1 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) GSA/241.0.531137396 "
        "Mobile/15E148 Safari/604.1",
        "Google", "241.0.531137396",
    ),
    (
        "Mozilla/5.0 (Linux; Android 10; VOG-L29 Build/HUAWEIVOG-L29) "
        "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
        "Chrome/83.0.4103.106 Mobile Safari/537.36 "
        "MicroMessenger/7.0.20.1781",
        "WeChat", "7.0.20",
    ),
    (
        "Mozilla/5.0 (Linux; U; Android 12; en-US; 2201117TG Build/RKQ1) "
        "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
        "Chrome/100.0.4896.58 UCBrowser/13.4.0.1306 Mobile Safari/537.36",
        "UC Browser", "13.4.0",
    ),
    (
        "Mozilla/5.0 (Linux; Android 10) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Version/4.0 Chrome/95.0.4638.74 Mobile "
        "DuckDuckGo/5 Safari/537.36",
        "DuckDuckGo", "5",
    ),
    # TV / streaming
    (
        "Mozilla/5.0 (Linux; Android 9; AFTWMST22 Build/PS7233) "
        "AppleWebKit/537.36 (KHTML, like Gecko) Silk/112.5.1 like "
        "Chrome/112.0.5615.213 Safari/537.36",
        "Amazon Silk", "112.5.1",
    ),
    (
        "Mozilla/5.0 (X11; Linux aarch64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 "
        "CrKey/1.56.500000",
        "Chromecast", "1.56",
    ),
    ("Roku/DVP-12.0 (12.0.0.4182-88)", "Roku", "12.0"),
    (
        "Mozilla/5.0 (Nintendo Switch; WifiWebAuthApplet) "
        "AppleWebKit/606.4 (KHTML, like Gecko) NF/6.0.1.15.4 "
        "NintendoBrowser/5.1.0.20393",
        "NintendoBrowser", "5.1",
    ),
    (
        "HbbTV/1.2.1 (; Samsung; SmartTV2019; T-KTM2DEUC-1202.3; ;) "
        "Chrome",
        "HbbTV", "1.2.1",
    ),
    # iOS in-app WKWebView: AppleWebKit, no trailing Safari token
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 13_5 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148",
        "Mobile Safari UI/WKWebView", "",
    ),
    # regressions: the browser chain must be unaffected
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
        "Chrome", "120.0.0",
    ),
    (
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:109.0) "
        "Gecko/20100101 Firefox/115.0",
        "Firefox", "115.0",
    ),
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 "
        "Mobile/15E148 Safari/604.1",
        "Mobile Safari", "16.6",
    ),
    ("curl/8.4.0", "curl", "8.4.0"),
    ("SomethingNobodyHasEverHeardOf/9.9", "Other", ""),
]


def test_useragent_bot_webview_tv_corpus(spark):
    df = spark.createDataFrame([(ua,) for ua, _, _ in UA_CASES], ["ua"])
    rows = df.select(
        "ua", user_agent_map(F.col("ua")).alias("m")
    ).collect()
    got = {r["ua"]: r["m"] for r in rows}
    for ua, fam, ver in UA_CASES:
        assert got[ua]["user_agent.name"] == fam, (
            f"{ua!r}: got {got[ua]['user_agent.name']!r}, want {fam!r}"
        )
        assert got[ua]["user_agent.version"] == ver, (
            f"{ua!r}: version {got[ua]['user_agent.version']!r}, "
            f"want {ver!r}"
        )
        assert got[ua]["user_agent.original"] == ua


def test_useragent_other_rate_on_realistic_mix(spark):
    """The COVERAGE.md 'Other rate' number: the corpus above is a
    realistic traffic mix (browsers, bots, apps, TVs, tools) with ONE
    deliberately-unknown agent."""
    df = spark.createDataFrame([(ua,) for ua, _, _ in UA_CASES], ["ua"])
    other = (
        df.select(user_agent_map(F.col("ua")).alias("m"))
        .filter(F.col("m")["user_agent.name"] == "Other")
        .count()
    )
    rate = other / len(UA_CASES)
    assert rate <= 1 / len(UA_CASES) + 1e-9  # only the planted unknown


# --- config-driven training-data DAG -------------------------------------


def test_config_pipeline_corpus_dag_matches_direct(spark, sf_dir):
    from opentelemetry_collector_contrib_spark.functions import corpus
    from opentelemetry_collector_contrib_spark.plans import config_pipeline
    from opentelemetry_collector_contrib_spark.sources import (
        documents as docsrc,
    )

    docs = docsrc.documents_df(spark, sf_dir)
    cfg = {
        "processors": [
            {"type": "quality_gate", "min_quality": 0.5},
            {"type": "lang_gate", "keep_lang": "en"},
            {"type": "gopher_gates", "min_words": 30},
            {"type": "dedup_exact"},
            {"type": "dedup_minhash", "shingle_w": 3, "minhash_k": 12,
             "lsh_bands": 4},
        ]
    }
    via_config, sinks = config_pipeline.build_from_config(
        spark, sf_dir, cfg, source=docs
    )
    assert sinks == {}
    direct = corpus.clean_corpus(
        docs, min_quality=0.5, keep_lang="en", shingle_w=3, minhash_k=12,
        lsh_bands=4, gopher={"min_words": 30},
    )
    got = sorted(r["doc_id"] for r in via_config.select("doc_id").collect())
    want = sorted(r["doc_id"] for r in direct.select("doc_id").collect())
    assert got == want
    assert len(got) > 0


def test_config_pipeline_sample_shuffle(spark, sf_dir):
    from opentelemetry_collector_contrib_spark.plans import config_pipeline
    from opentelemetry_collector_contrib_spark.sources import (
        documents as docsrc,
    )

    docs = docsrc.documents_df(spark, sf_dir)
    cfg = {
        "processors": [
            {"type": "sample", "k": 40, "key": "doc_id", "seed": 5},
            {"type": "global_shuffle", "key": "doc_id", "seed": 6},
        ]
    }
    shuffled, _ = config_pipeline.build_from_config(
        spark, sf_dir, cfg, source=docs
    )
    rows = shuffled.collect()
    assert set(shuffled.columns) == set(docs.columns)
    assert len(rows) == 40
    # exact-k sampling without replacement: 40 distinct documents
    assert len({r["doc_id"] for r in rows}) == 40


def test_config_pipeline_pii_scrub_masks(spark):
    from opentelemetry_collector_contrib_spark.plans import config_pipeline

    df = spark.createDataFrame(
        [(1, "mail bob@example.com ip 10.1.2.3 ssn 123-45-6789 "
             "key sk_abcdefghij0123456789 call 555-123-4567")],
        ["doc_id", "text"],
    )
    out, _ = config_pipeline.build_from_config(
        spark, "", {"processors": [{"type": "pii_scrub"}]}, source=df
    )
    text = out.collect()[0]["text"]
    for token in ("<EMAIL>", "<IP>", "<SSN>", "<KEY>", "<PHONE>"):
        assert token in text, text
    for leak in ("bob@", "10.1.2.3", "123-45-6789", "abcdefghij"):
        assert leak not in text, text


def test_config_pipeline_span_dedup_stage(spark):
    from opentelemetry_collector_contrib_spark.functions import dedup as dd
    from opentelemetry_collector_contrib_spark.plans import config_pipeline

    dup = "Alpha one. Beta two. Gamma three."
    df = spark.createDataFrame(
        [
            (1, dup + " Tail sentence.", "web"),
            (2, "Opening line. " + dup + " Different end.", "book"),
            (3, dup, "web"),
            (4, "No repeats here. Just two sentences.", "code"),
        ],
        ["doc_id", "text", "source"],
    )
    out, sinks = config_pipeline.build_from_config(
        spark, "", {"processors": [{"type": "span_dedup"}]}, source=df
    )
    assert sinks == {}
    got = {r["doc_id"]: (r["text"], r["source"]) for r in out.collect()}
    want = {
        r["doc_id"]: r["clean_text"] for r in dd.span_dedup(df).collect()
    }
    # same survivor set and rewritten text as the direct call; the
    # non-text column (source) flows through the stage intact
    assert set(got) == set(want) and 3 not in got
    for doc_id, (text, _src) in got.items():
        assert text == want[doc_id]
    assert got[2][1] == "book" and got[4][1] == "code"


def test_config_pipeline_checkpoint_stage_is_transparent(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.plans import config_pipeline
    from opentelemetry_collector_contrib_spark.sources import (
        documents as docsrc,
    )

    docs = docsrc.documents_df(spark, "/root/testdata/sf0.001")
    base = [{"type": "pii_scrub"}, {"type": "dedup_exact"}]
    plain, _ = config_pipeline.build_from_config(
        spark, "", {"processors": base}, source=docs
    )
    for boundary in (
        {"type": "checkpoint"},
        {"type": "checkpoint", "mode": "parquet",
         "path": str(tmp_path / "ckpt")},
    ):
        ck, _ = config_pipeline.build_from_config(
            spark, "", {"processors": [base[0], boundary, base[1]]},
            source=docs,
        )
        a = sorted(tuple(r) for r in plain.select("doc_id", "text").collect())
        b = sorted(tuple(r) for r in ck.select("doc_id", "text").collect())
        assert a == b and len(a) > 0


def test_write_routed_cap_sized_by_largest_rowed_sink(spark, tmp_path):
    """maxRecordsPerFile is one global writer option; the byte-cap
    translation must size it for the sink with the LARGEST rows so no
    sink's files blow the cap (small-rowed sinks just rotate early)."""
    import glob
    import os

    from opentelemetry_collector_contrib_spark.operators import connectors

    big = F.concat_ws("", F.array_repeat(F.lit("x"), 20000))
    df = (
        spark.range(2000)
        .select(
            F.col("id").alias("conv_id"),
            F.when(F.col("id") % 2 == 0, F.lit("small")).otherwise(big).alias(
                "payload"
            ),
            F.when(F.col("id") % 2 == 0, F.lit("tiny")).otherwise(
                F.lit("fat")
            ).alias("_route"),
        )
    )
    paths = connectors.write_routed(
        df, {"tiny": ["tiny"], "fat": ["fat"]}, str(tmp_path / "ps"),
        max_megabytes=1, files_per_sink=2,
    )
    for sink, p in paths.items():
        for f in glob.glob(p + "/*.parquet"):
            assert os.path.getsize(f) <= 1 << 20, (sink, f)


def test_pii_scrub_ip_not_phone_and_no_word_merge(spark):
    # regression: the phone rule used to (a) fire before the IP rule,
    # mislabeling dotted IPv4s, and (b) consume the separator after the
    # number, merging adjacent words
    from opentelemetry_collector_contrib_spark.plans import config_pipeline

    df = spark.createDataFrame(
        [(1, "ip 255.255.255.255 mid 192.168.100.1 call 555-123-4567 now "
             "ssn 123-45-6789 end")],
        ["doc_id", "text"],
    )
    out, _ = config_pipeline.build_from_config(
        spark, "", {"processors": [{"type": "pii_scrub"}]}, source=df
    )
    text = out.collect()[0]["text"]
    assert text == ("ip <IP> mid <IP> call <PHONE> now ssn <SSN> end"), text


def test_dedup_exact_stage_single_pass_no_self_join(spark):
    # regression: the stage used to groupBy(min)+self-join its input,
    # re-executing every upstream stage twice per action; now one
    # window shuffle — correctness (keep-min-id) plus plan shape
    from opentelemetry_collector_contrib_spark.plans import config_pipeline

    docs = spark.createDataFrame(
        [(3, "Same  Text"), (1, "same text"), (2, "unique"), (7, "SAME TEXT")],
        ["doc_id", "text"],
    )
    out, _ = config_pipeline.build_from_config(
        spark, "", {"processors": [{"type": "dedup_exact"}]}, source=docs
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_pii_scrub_paren_area_code_and_intl_prefix(spark):
    # regression: \b can't match before '(' or '+', so "(555) 123-4567"
    # leaked the area code and "+1 ..." leaked the plus/country code
    from opentelemetry_collector_contrib_spark.plans import config_pipeline

    df = spark.createDataFrame(
        [(1, "a (555) 123-4567 b +1 555-123-4567 c 555-123-4567 d")],
        ["doc_id", "text"],
    )
    out, _ = config_pipeline.build_from_config(
        spark, "", {"processors": [{"type": "pii_scrub"}]}, source=df
    )
    assert out.collect()[0]["text"] == "a <PHONE> b <PHONE> c <PHONE> d"


def test_dedup_exact_stage_null_text_and_duplicate_ids(spark):
    # null text keeps exactly ONE survivor (its own sentinel bucket,
    # not silently dropped); duplicate (hash, id) rows keep exactly one
    from opentelemetry_collector_contrib_spark.plans import config_pipeline

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (3, "x"), (4, "y")],
        ["doc_id", "text"],
    )
    out, _ = config_pipeline.build_from_config(
        spark, "", {"processors": [{"type": "dedup_exact"}]}, source=docs
    )
    rows = sorted((r["doc_id"], r["text"]) for r in out.collect())
    assert rows == [(1, None), (3, "x"), (4, "y")]


def test_pii_scrub_e164_bare_plus_number(spark):
    # '+'-prefixed numbers are unambiguous PII across the E.164 range:
    # unseparated, max-length 15-digit, and country-code-space forms all
    # mask; bare digit runs without '+' stay (documented: a 10-digit
    # rule would also eat unix timestamps / order ids)
    from opentelemetry_collector_contrib_spark.plans import config_pipeline

    df = spark.createDataFrame(
        [(1, "a +15551234567 b 5551234567 c ts 1726500000 d "
             "+123456789012345 e +44 7911123456 f")],
        ["doc_id", "text"],
    )
    out, _ = config_pipeline.build_from_config(
        spark, "", {"processors": [{"type": "pii_scrub"}]}, source=df
    )
    assert out.collect()[0]["text"] == (
        "a <PHONE> b 5551234567 c ts 1726500000 d <PHONE> e <PHONE> f"
    )
