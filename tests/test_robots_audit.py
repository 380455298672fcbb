"""Retroactive robots audit: broadcast-dimension plan + rule semantics
(operators/robots_audit.py; CrawlerRevisitor re-gates stored URLs through
robotsRules.isAllowed on every revisit)."""

from pyspark.sql import functions as F

from marginaliasearch_spark.operators.robots_audit import newly_refused, robots_audit


def _fixture(spark):
    corpus = spark.createDataFrame(
        [
            ("a.example", "https://a.example/ok.html"),
            ("a.example", "https://a.example/private/x.html"),
            ("b.example", "https://b.example/anything.html"),  # no robots row
            ("c.example", "https://c.example/page.php"),
            ("c.example", "https://c.example/page.html"),
            ("d.example", "https://d.example/page.html"),  # NULL robots text
        ],
        "domain string, url string",
    )
    robots = spark.createDataFrame(
        [
            ("a.example", "User-agent: *\nDisallow: /private/\n"),
            ("c.example", "User-agent: *\nDisallow: /*.php$\n"),
            ("d.example", None),  # a 404 robots.txt
        ],
        "domain string, robots_txt string",
    )
    return corpus, robots


def test_audit_verdicts(spark):
    corpus, robots = _fixture(spark)
    want = {
        "https://a.example/ok.html": True,
        "https://a.example/private/x.html": False,
        "https://b.example/anything.html": True,  # missing robots → ALLOW_ALL
        "https://c.example/page.php": False,
        "https://c.example/page.html": True,
        "https://d.example/page.html": True,  # NULL robots → ALLOW_ALL
    }
    got = {
        r["url"]: r["allowed"] for r in robots_audit(corpus, robots).collect()
    }
    assert got == want
    # the parse cache spans a task's batches: two-row batches, same verdicts
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        got = {
            r["url"]: r["allowed"]
            for r in robots_audit(corpus.coalesce(1), robots).collect()
        }
        assert got == want
    finally:
        if old_batch is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old_batch)
    refused = {r["url"] for r in newly_refused(corpus, robots).collect()}
    assert refused == {
        "https://a.example/private/x.html",
        "https://c.example/page.php",
    }


def test_audit_plan_broadcasts_dimension(spark):
    """The robots side must broadcast — the corpus never shuffles."""
    corpus, robots = _fixture(spark)
    plan = robots_audit(corpus, robots)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_audit_shuffle_mode_equals_broadcast(spark):
    """The 10^8-domain-safe shuffle-hash mode returns the same verdicts as
    the broadcast mode, and its physical plan genuinely avoids the
    broadcast (no BroadcastHashJoin; corpus repartitioned by domain)."""
    corpus, robots = _fixture(spark)
    b = robots_audit(corpus, robots, join_mode="broadcast")
    s = robots_audit(corpus, robots, join_mode="shuffle")
    key = lambda df: sorted((r["url"], r["allowed"]) for r in df.collect())
    assert key(b) == key(s)

    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_audit_auto_mode_picks_by_dimension_size(spark):
    """auto = broadcast under the threshold, shuffle above it."""
    corpus, robots = _fixture(spark)
    small = robots_audit(corpus, robots, join_mode="auto", broadcast_threshold=10)
    big = robots_audit(corpus, robots, join_mode="auto", broadcast_threshold=1)
    splan = small._jdf.queryExecution().executedPlan().toString()
    bplan = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in splan
    assert "BroadcastHashJoin" not in bplan
    key = lambda df: sorted((r["url"], r["allowed"]) for r in df.collect())
    assert key(small) == key(big)
