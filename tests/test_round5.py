"""Round-5 tests: the ADVICE defect fixes and the uap-core
bot/webview/TV UserAgent blocks.

ADVICE defects pinned here:
  1. filter_drop(drop_ratio) hashed map-typed columns with xxhash64 →
     AnalysisException under spark.sql.legacy.allowHashOnMapType=false
  4. OTTL time ± duration truncated ns→µs toward zero via a double
     divide (Go does exact integer ns arithmetic; floor semantics)
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import ottl, transformers
from opentelemetry_collector_contrib_spark.operators.useragent import (
    user_agent_map,
)


# --- 1. filter_drop with map columns -------------------------------------


def test_filter_drop_ratio_with_map_column(spark):
    """A frame carrying a map column (attribute maps,
    key_value_parse output) must not fail analysis: map columns hash via their
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


# --- 4. OTTL time ± duration floor semantics -----------------------------


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
