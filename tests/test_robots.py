from fundcrawler_spark.operators.politeness import RobotsMatcher, robots_filter


def test_longest_match_wins():
    m = RobotsMatcher(
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok\nDisallow: /tmp$\n"
    )
    assert m.allowed("/")
    assert not m.allowed("/private/x")
    assert m.allowed("/private/ok/page")
    assert not m.allowed("/tmp")
    assert m.allowed("/tmp/file")  # $-anchored rule


def test_agent_group_selection():
    txt = "User-agent: evilbot\nDisallow: /\n\nUser-agent: *\nAllow: /\n"
    assert RobotsMatcher(txt, agent="fundcrawler").allowed("/x")
    assert not RobotsMatcher(txt, agent="evilbot").allowed("/x")


def test_wildcard_rules():
    m = RobotsMatcher("User-agent: *\nDisallow: /*.aspx\n")
    assert not m.allowed("/FundArchivesDatas.aspx")
    assert m.allowed("/jbgk_000001.html")


def test_robots_filter_df(spark):
    df = spark.createDataFrame(
        [
            ("h1", "http://h1/ok"),
            ("h1", "http://h1/private/x"),
            ("h2", "http://h2/anything"),
        ],
        "host string, url_norm string",
    )
    robots = {"h1": "User-agent: *\nDisallow: /private/\n"}
    out = {r["url_norm"] for r in robots_filter(df, robots).collect()}
    assert out == {"http://h1/ok", "http://h2/anything"}


def test_crawl_delay_parsed_and_capped():
    m = RobotsMatcher("User-agent: *\nCrawl-delay: 0.5\nDisallow: /x\n")
    assert m.crawl_delay == 0.5
    assert m.budget_cap(1.0) == 2
    assert m.budget_cap(0.1) == 1  # floor 1
    assert RobotsMatcher("User-agent: *\n").budget_cap(1.0) is None


def test_crawl_delay_caps_admission(spark):
    import shutil
    import tempfile

    from fundcrawler_spark import fixtures as fx
    from fundcrawler_spark.fixtures import EASTMONEY_HOST
    from fundcrawler_spark.plans.wave_loop import Crawler, CrawlConfig
    from fundcrawler_spark.schemas import SEEDS_SCHEMA

    seeds = spark.createDataFrame(fx.seed_rows(4), SEEDS_SCHEMA)
    wd = tempfile.mkdtemp(prefix="cd_")
    try:
        cfg = CrawlConfig(
            fail_rate=0.0, max_waves=30, n_shards=4, init_budget=100.0,
            robots_by_host={EASTMONEY_HOST: "User-agent: *\nCrawl-delay: 0.25\nAllow: /\n"},
        )
        c = Crawler(spark, wd, cfg)
        c.run(seeds=seeds, log=lambda *a: None)
        log = c.fetch_log.read(spark)
        per_wave = log.groupBy("wave").sum("n_admitted").collect()
        # cap = WAVE_SECONDS/delay = 1.0/0.25 = 4 requests per wave despite budget 100
        assert all(r["sum(n_admitted)"] <= 4 for r in per_wave), per_wave
        assert len(per_wave) >= 4  # 16 pages at <=4/wave
    finally:
        shutil.rmtree(wd)


def test_equal_length_allow_beats_disallow():
    """RFC 9309 §2.2.2: on equivalent matches the least-restrictive
    (Allow) rule wins, even when Disallow is listed first."""
    txt = "User-agent: *\nDisallow: /page\nAllow: /page\n"
    m = RobotsMatcher(txt)
    assert m.allowed("/page")
    # and the reverse order too
    m2 = RobotsMatcher("User-agent: *\nAllow: /page\nDisallow: /page\n")
    assert m2.allowed("/page")
    # longer Disallow still beats shorter Allow
    m3 = RobotsMatcher("User-agent: *\nAllow: /page\nDisallow: /page/sub\n")
    assert not m3.allowed("/page/sub/x")


def test_blocked_rows_drop_and_crawl_terminates_exactly(spark):
    """Disallowed rows are dropped at insertion (robots config is
    static per run), so a crawl with permanently-blocked URLs exits in
    exactly the simulator's wave count over the ALLOWED rows — it must
    NOT spin to max_waves (r3 'What's wrong' #1)."""
    import shutil
    import tempfile

    from fundcrawler_spark import fixtures as fx
    from fundcrawler_spark.fixtures import EASTMONEY_HOST
    from fundcrawler_spark.operators.frontier import seeds_to_frontier
    from fundcrawler_spark.plans.simulator import simulate
    from fundcrawler_spark.plans.wave_loop import Crawler, CrawlConfig
    from fundcrawler_spark.schemas import SEEDS_SCHEMA

    n = 12
    seeds = spark.createDataFrame(fx.seed_rows(n), SEEDS_SCHEMA)
    robots = {EASTMONEY_HOST: "User-agent: *\nDisallow: /tsdata_\nAllow: /\n"}
    wd = tempfile.mkdtemp(prefix="robots_term_")
    try:
        cfg = CrawlConfig(
            fail_rate=0.0, max_waves=500, n_shards=8,
            robots_by_host=robots, verify_host_counts=True,
        )
        c = Crawler(spark, wd, cfg)
        stats = c.run(seeds=seeds, log=lambda *a: None)

        pages = c.pages.read(spark).collect()
        # METRICS (tsdata) pages blocked: 3 of 4 page types fetched
        assert len(pages) == 3 * n == stats["pages_fetched"]
        assert not any("tsdata" in r["url"] for r in pages)
        # no seed passes the 4-page barrier -> zero result rows
        res = c.results.read(spark)
        assert res is None or res.count() == 0

        # exact wave count == simulator over the allowed rows only
        rows = [
            r.asDict() for r in seeds_to_frontier(seeds).collect()
            if "tsdata" not in r["url"]
        ]
        sim = simulate(rows, fail_rate=0.0, max_waves=500, n_shards=8)
        assert stats["waves"] == sim["waves"] < 500
        eng = {r["url_hash"]: (r["fetch_order"], r["wave"]) for r in pages}
        assert eng == {h: (o, w) for o, h, w in sim["order"]}
    finally:
        shutil.rmtree(wd)


def test_fully_blocked_crawl_exits_immediately(spark):
    import shutil
    import tempfile

    from fundcrawler_spark import fixtures as fx
    from fundcrawler_spark.fixtures import EASTMONEY_HOST
    from fundcrawler_spark.plans.wave_loop import Crawler, CrawlConfig
    from fundcrawler_spark.schemas import SEEDS_SCHEMA

    seeds = spark.createDataFrame(fx.seed_rows(4), SEEDS_SCHEMA)
    wd = tempfile.mkdtemp(prefix="robots_block_")
    try:
        cfg = CrawlConfig(
            max_waves=50, n_shards=4,
            robots_by_host={EASTMONEY_HOST: "User-agent: *\nDisallow: /\n"},
        )
        c = Crawler(spark, wd, cfg)
        stats = c.run(seeds=seeds, log=lambda *a: None)
        assert stats["waves"] == 0 and stats["pages_fetched"] == 0
        assert c.pages.read(spark) is None or c.pages.read(spark).count() == 0
    finally:
        shutil.rmtree(wd)
