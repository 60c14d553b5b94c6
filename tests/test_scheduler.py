"""Scheduler building blocks: politeness window, robots gate, seed-table
merge, and the fetch exchange's spread of a hot host."""

import pytest
from pyspark.sql import functions as F

from warc_spark.operators.politeness import flag_politeness, topk_per_key
from warc_spark.operators.robots import ROBOTS_SCHEMA, flag_robots, url_host, url_path


@pytest.fixture(scope="module")
def frontier(spark):
    rows = []
    for h in range(4):
        for i in range(20):
            rows.append(
                (f"http://host{h}.example.org/p/{i}", f"host{h}.example.org", 1.0 - i * 0.01)
            )
    return spark.createDataFrame(rows, "url string, host string, priority double")


def test_politeness_default_budget(spark, frontier):
    kept = flag_politeness(frontier, None, default_budget=5).filter("kept")
    counts = kept.groupBy("host").count().collect()
    assert all(r["count"] == 5 for r in counts)
    # keeps the top-priority urls specifically
    top = {r.url for r in kept.filter(F.col("host") == "host0.example.org").collect()}
    assert top == {f"http://host0.example.org/p/{i}" for i in range(5)}


def test_politeness_budget_overrides(spark, frontier):
    budgets = spark.createDataFrame(
        [("host1.example.org", 2)], "host string, max_fetches_per_batch int"
    )
    kept = flag_politeness(frontier, budgets, default_budget=4).filter("kept")
    counts = {r.host: r["count"] for r in kept.groupBy("host").count().collect()}
    assert counts["host1.example.org"] == 2
    assert counts["host0.example.org"] == 4


def test_politeness_domain_level_budget(spark):
    """Registrable-DOMAIN budgets compose from the same operator: key the
    window on domain_of_expr(host) — one crawl budget shared by all of a
    domain's subdomains (how large crawls cap farm-style *.example.co.uk
    hosts), no new operator needed."""
    from warc_spark.functions.graph import domain_of_expr

    rows = [
        (f"http://{sub}.farm.co.uk/p/{i}", f"{sub}.farm.co.uk", float(10 - i))
        for sub in ("a", "b", "c") for i in range(4)
    ] + [(f"http://solo.example.org/p/{i}", "solo.example.org", 1.0)
         for i in range(4)]
    fr = spark.createDataFrame(rows, "url string, host string, priority double")
    out = flag_politeness(
        fr.withColumn("domain", domain_of_expr("host")),
        default_budget=3,
        host_col="domain",
    )
    kept = out.filter("kept").groupBy("domain").count().collect()
    got = {r.domain: r["count"] for r in kept}
    # 12 farm.co.uk urls across 3 subdomains share ONE budget of 3;
    # the unrelated domain keeps its own 3-of-4
    assert got == {"farm.co.uk": 3, "example.org": 3}


def test_merge_seed_tables(spark):
    """Graph + recrawl + sitemap seed tables combine into one frontier
    input: weights scale, duplicates max-merge, null (index) rows drop."""
    import pytest as _pytest

    from warc_spark.operators.priority import merge_seed_tables

    graph = spark.createDataFrame(
        [("u1", 1.0), ("u2", 0.5)], "url string, priority double"
    )
    recrawl = spark.createDataFrame(
        [("u2", 1.0), ("u3", 0.8)], "url string, priority double"
    )
    sitemap = spark.createDataFrame(
        [("u4", 0.9), ("idx.xml", None)], "url string, priority double"
    )
    got = {
        r.url: r.priority
        for r in merge_seed_tables(
            [graph, recrawl, sitemap], weights=[1.0, 0.6, 0.3]
        ).collect()
    }
    assert got == {
        "u1": 1.0,            # graph only
        "u2": 0.6,            # max(0.5*1.0, 1.0*0.6)
        "u3": pytest.approx(0.48),
        "u4": pytest.approx(0.27),
    }
    with _pytest.raises(ValueError):
        merge_seed_tables([])
    with _pytest.raises(ValueError):
        merge_seed_tables([graph], weights=[1.0, 2.0])


def test_robots_gate(spark, frontier):
    robots = spark.createDataFrame(
        [
            ("host0.example.org", ["/p/1"], 1.0),   # blocks /p/1, /p/10..19
            ("host1.example.org", [], 2.0),          # empty = allow all
        ],
        ROBOTS_SCHEMA,
    )
    kept = flag_robots(frontier, robots).filter("robots_allowed")
    h0 = [r.url for r in kept.filter(F.col("host") == "host0.example.org").collect()]
    assert all("/p/1" not in u for u in h0)
    assert len(h0) == 9  # p/0, p/2..9
    assert kept.filter(F.col("host") == "host1.example.org").count() == 20
    assert kept.filter(F.col("host") == "host2.example.org").count() == 20  # no rules


def test_url_helpers(spark):
    df = spark.createDataFrame(
        [("http://Ex.COM:8080/a/b?q=1",), ("https://x.org",)], "url string"
    )
    rows = df.select(url_host("url").alias("h"), url_path("url").alias("p")).collect()
    assert rows[0].h == "ex.com" and rows[0].p == "/a/b"
    assert rows[1].h == "x.org" and rows[1].p == "/"


def test_fetch_exchange_spreads_hot_host(spark, tmp_path):
    """A hot host is not one task's work: the fetch join's url exchange,
    the batch's only schedule-side shuffle, puts one host's rows in every
    shuffle partition. Order within a batch is data — (priority desc, url)
    — and is checked on the written tables, not on partitions."""
    from warc_spark.operators.frontier import FrontierEngine
    from warc_spark.plans.snapstore import SnapStore
    from warc_spark.sources.pages import synth_pages

    rows = [(f"http://hot.example.org/{i}", "hot.example.org", float(i % 100)) for i in range(2000)]
    rows += [(f"http://cold{i}.example.org/", f"cold{i}.example.org", 1.0) for i in range(50)]
    sched = spark.createDataFrame(rows, "url string, host string, priority double")
    eng = FrontierEngine(spark, synth_pages(spark, 200, seed=1), SnapStore(str(tmp_path)))
    eng.pages.persist()
    try:
        hot_parts = (
            eng._fetch(sched)
            .withColumn("pid", F.spark_partition_id())
            .filter(F.col("host") == "hot.example.org")
            .select("pid")
            .distinct()
            .count()
        )
    finally:
        eng.pages.unpersist()
    assert hot_parts == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_topk_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("a", 1.0, "u2"), ("a", 1.0, "u1"), ("a", 1.0, "u3")],
        "host string, priority double, url string",
    )
    kept = topk_per_key(df, "host", [F.desc("priority"), F.col("url")], k=2)
    assert {r.url for r in kept.collect()} == {"u1", "u2"}


ROBOTS_BODY = """
# crawler policy
User-agent: fancybot
Disallow: /private/
Crawl-delay: 2.5

User-agent: *
Disallow: /tmp/
Disallow: /cgi-bin/
Crawl-delay: 1

User-agent: otherbot
Disallow:
"""


def test_parse_robots_txt_groups():
    from warc_spark.operators.robots import parse_robots_txt

    # wildcard group
    rules = parse_robots_txt(ROBOTS_BODY, "*")
    assert rules.disallow == ["/tmp/", "/cgi-bin/"]
    assert rules.crawl_delay == 1.0
    # specific agent wins over wildcard
    rules = parse_robots_txt(ROBOTS_BODY, "fancybot")
    assert rules.disallow == ["/private/"]
    assert rules.crawl_delay == 2.5
    # empty Disallow = allow all
    rules = parse_robots_txt(ROBOTS_BODY, "otherbot")
    assert rules.disallow == []
    # unknown agent falls back to *
    assert parse_robots_txt(ROBOTS_BODY, "nobody").disallow == ["/tmp/", "/cgi-bin/"]
    # grouped user-agents share directives
    multi = "User-agent: a\nUser-agent: b\nDisallow: /x\nAllow: /x/ok\n"
    assert parse_robots_txt(multi, "b") == (["/x/ok"], ["/x"], None)


def test_robots_longest_match_precedence():
    """RFC 9309 / Google-documented precedence: longest pattern wins;
    allow wins length ties; * and final $ patterns."""
    from warc_spark.operators.robots import pattern_to_regex, robots_blocked

    # documented example: allow /p beats disallow / for /page
    assert not robots_blocked("/page", ["/p"], ["/"])
    # documented example: equal-length tie -> allow (least restrictive)
    assert not robots_blocked("/folder/page", ["/folder"], ["/folder"])
    # longer disallow beats shorter allow
    assert robots_blocked("/page.htm", ["/page"], ["/*.htm"])
    # wildcard matches any char run
    assert robots_blocked("/a/deep/file.php", [], ["/*.php"])
    assert not robots_blocked("/a/deep/file.phtml", [], ["/*.php$"])
    # final $ anchors the end
    assert robots_blocked("/file.php", [], ["/*.php$"])
    assert not robots_blocked("/file.php5", [], ["/*.php$"])
    # $ only final; regex metachars in patterns are literal
    assert pattern_to_regex("/a+b") == "^/a\\+b"
    assert not robots_blocked("/aab", [], ["/a+b"])
    assert robots_blocked("/a+b", [], ["/a+b"])


def test_robots_gate_v2_wildcards(spark):
    """The JVM gate with Allow + wildcard rules must agree with the
    pure-Python twin on every url."""
    from warc_spark.operators.robots import robots_blocked, robots_rules_from_bodies

    body = (
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/ok\n"
        "Disallow: /*.cgi$\n"
        "Allow: /p\n"
        "Disallow: /\n"
    )
    rules = robots_rules_from_bodies(
        spark.createDataFrame([("h.example.org", body)], "host string, body string")
    )
    urls = [
        "http://h.example.org/page",          # allow /p beats disallow /
        "http://h.example.org/private/x",     # disallow /private
        "http://h.example.org/private/ok/y",  # allow /private/ok beats it
        "http://h.example.org/x",             # disallow /
        "http://h.example.org/script.cgi",    # disallow /*.cgi$ beats /p? no host
        "http://h.example.org/p.cgi",         # /*.cgi$ (len 7) vs /p (len 2)
        "http://h.example.org/",              # disallow /
    ]
    frontier = spark.createDataFrame(
        [(u, "h.example.org", 1.0) for u in urls],
        "url string, host string, priority double",
    )
    kept = {
        r.url for r in flag_robots(frontier, rules).filter("robots_allowed").collect()
    }
    parsed = (["/private/ok", "/p"], ["/private", "/*.cgi$", "/"])
    expected = {
        u
        for u in urls
        if not robots_blocked("/" + u.split("/", 3)[3] if len(u.split("/", 3)) > 3 else "/",
                              *parsed)
    }
    assert kept == expected
    # spot-check the twin itself
    assert "http://h.example.org/page" in kept
    assert "http://h.example.org/private/x" not in kept
    assert "http://h.example.org/private/ok/y" in kept
    assert "http://h.example.org/p.cgi" not in kept


def test_robots_rules_from_bodies_feeds_gate(spark):
    from warc_spark.operators.robots import robots_rules_from_bodies

    bodies = spark.createDataFrame(
        [
            ("h0.example.org", ROBOTS_BODY),
            ("h1.example.org", "User-agent: *\nDisallow: /\n"),
            ("h2.example.org", None),
        ],
        "host string, body string",
    )
    rules = robots_rules_from_bodies(bodies)
    got = {r.host: (list(r.disallow_prefixes), r.crawl_delay) for r in rules.collect()}
    assert got["h0.example.org"] == (["/tmp/", "/cgi-bin/"], 1.0)
    assert got["h1.example.org"] == (["/"], None)
    assert got["h2.example.org"] == ([], None)

    frontier = spark.createDataFrame(
        [
            ("http://h0.example.org/ok", "h0.example.org", 1.0),
            ("http://h0.example.org/tmp/x", "h0.example.org", 1.0),
            ("http://h1.example.org/anything", "h1.example.org", 1.0),
            ("http://h3.example.org/new", "h3.example.org", 1.0),
        ],
        "url string, host string, priority double",
    )
    kept = {
        r.url for r in flag_robots(frontier, rules).filter("robots_allowed").collect()
    }
    assert kept == {"http://h0.example.org/ok", "http://h3.example.org/new"}


def test_budgets_from_crawl_delay(spark):
    """robots Crawl-delay -> per-host per-batch budgets, end to end through
    the politeness gate."""
    from warc_spark.operators.politeness import budgets_from_crawl_delay
    from warc_spark.operators.robots import robots_rules_from_bodies

    bodies = spark.createDataFrame(
        [
            ("slow.example.org", "User-agent: *\nCrawl-delay: 30\n"),
            ("fast.example.org", "User-agent: *\nCrawl-delay: 0.5\n"),
            ("verylimited.example.org", "User-agent: *\nCrawl-delay: 1000\n"),
            ("nodelay.example.org", "User-agent: *\nDisallow: /x\n"),
        ],
        "host string, body string",
    )
    rules = robots_rules_from_bodies(bodies)
    budgets = budgets_from_crawl_delay(rules, batch_seconds=60, max_budget=50)
    got = {r.host: r.max_fetches_per_batch for r in budgets.collect()}
    assert got == {
        "slow.example.org": 2,          # 60 / 30
        "fast.example.org": 50,         # 120 capped at max_budget
        "verylimited.example.org": 1,   # delay > batch still crawls 1
    }
    frontier = spark.createDataFrame(
        [
            (f"http://{h}/p{i}", h, 1.0 - i * 0.01)
            for h in ("slow.example.org", "nodelay.example.org")
            for i in range(5)
        ],
        "url string, host string, priority double",
    )
    kept = flag_politeness(frontier, budgets, default_budget=3).filter("kept")
    per_host = {
        r.host: r["count"] for r in kept.groupBy("host").count().collect()
    }
    assert per_host == {"slow.example.org": 2, "nodelay.example.org": 3}


def test_robots_sitemap_discovery(spark):
    """robots -> sitemaps -> seeds: the standard discovery chain."""
    from warc_spark.operators.robots import robots_rules_from_bodies, sitemap_urls
    from warc_spark.sources.pages import seeds_from_sitemaps

    body = (
        "Sitemap: http://h.example.org/sitemap.xml\n"
        "User-agent: *\nDisallow: /x\n"
        "Sitemap: http://h.example.org/sitemap2.xml  # trailing comment\n"
    )
    assert sitemap_urls(body) == [
        "http://h.example.org/sitemap.xml",
        "http://h.example.org/sitemap2.xml",
    ]
    rules = robots_rules_from_bodies(
        spark.createDataFrame([("h.example.org", body)], "host string, body string")
    )
    row = rules.collect()[0]
    assert list(row.sitemaps) == [
        "http://h.example.org/sitemap.xml",
        "http://h.example.org/sitemap2.xml",
    ]
    # fetched sitemap bodies (simulated) flow straight into the seed table
    sm_body = "<urlset><url><loc>http://h.example.org/p1</loc></url></urlset>"
    seeds = seeds_from_sitemaps(
        spark.createDataFrame([(sm_body,)], "body string")
    )
    assert [r.url for r in seeds.collect()] == ["http://h.example.org/p1"]
