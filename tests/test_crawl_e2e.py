"""End-to-end engine == simulator (SURVEY §5.3-5.5; north_rule gates).

Checks, on the same seed list + politeness budget:
  1. final URL-seen set equality
  2. per-epoch grant ORDER equality (FIFO reproduction)
  3. per-row span-sequence equality (kind, text, media_ref, order)
  4. politeness: no host ever exceeds its epoch budget
  5. robots: no disallowed URL is ever admitted or fetched
"""

from __future__ import annotations

import pytest

from gsccca_tax_records_scraper_spark import simulator, sitegen
from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

SEEDS = [1, 2, 3]
EPOCH_SECONDS = 60.0


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    wd = tmp_path_factory.mktemp("crawl")
    eng = CrawlEngine(spark, wd, epoch_seconds=EPOCH_SECONDS)
    eng.run(SEEDS)
    sim = simulator.simulate_crawl(SEEDS, epoch_seconds=EPOCH_SECONDS)
    return eng, sim


def test_seen_set_equality(crawl):
    eng, sim = crawl
    eng_seen = {r.url for r in eng.seen().collect()}
    assert eng_seen == sim.seen_urls


def test_grant_order_reproduction(crawl):
    eng, sim = crawl
    rows = eng.records().collect()
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert len(by_epoch) == sim.epochs
    for e in sorted(by_epoch):
        ordered = sorted(
            by_epoch[e],
            key=lambda r: (
                r.crawl_order.depth, r.crawl_order.seed_id,
                r.crawl_order.page, r.crawl_order.link_order, r.url_id,
            ),
        )
        assert [r.url for r in ordered] == sim.grant_order[e - 1], f"epoch {e}"


def test_span_sequence_equality(crawl):
    eng, sim = crawl
    docs = eng.documents().collect()
    assert len(docs) == len(sim.spans)
    for d in docs:
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in d.spans]
        assert got == sim.spans[d.url], d.url


def test_politeness_budget_never_exceeded(crawl):
    eng, sim = crawl
    robots = simulator.default_robots()
    rows = eng.records().collect()
    per = {}
    for r in rows:
        host = r.url.split("/")[2]
        per[(r.epoch, host)] = per.get((r.epoch, host), 0) + 1
    for (epoch, host), n in per.items():
        rule = robots[host]
        # hard cap: refill + burst (tokens can never exceed this)
        assert n <= int(rule.rate_per_sec * EPOCH_SECONDS + rule.burst), (epoch, host, n)


def test_robots_gate(crawl):
    eng, sim = crawl
    for r in eng.seen().collect():
        assert sitegen.DISALLOWED_PREFIX not in r.url
    # the synthetic site does emit admin links, so the gate did real work
    assert any("/Admin/" in sitegen.serp_html(s, 1) for s in range(20))


def test_cancelled_docs_marked_done_but_unparsed(crawl):
    eng, sim = crawl
    recs = {r.url: r for r in eng.records().collect()}
    n_cancelled = sum(1 for r in recs.values() if r.cancelled)
    assert n_cancelled >= 1
    for url, r in recs.items():
        if r.cancelled:
            assert r.county == "" and r.amount == ""
            assert url not in sim.spans  # no spans emitted


def test_viewer_url_synthesis(crawl):
    """F2 tail: pdf_document_url assembled from the 6 viewer JS vars
    (lien_index_scraper.py:661-665) must match the simulator's Python path
    row-for-row; cancelled docs carry ''."""
    eng, sim = crawl
    sim_by_url = {r["url"]: r for r in sim.records}
    rows = eng.records().collect()
    assert any(r.pdf_document_url for r in rows)
    for r in rows:
        assert r.pdf_document_url == sim_by_url[r.url].get("pdf_document_url", ""), r.url
        if not r.cancelled:
            assert r.pdf_document_url.startswith(
                "https://search.gsccca.org/Imaging/HTML5Viewer.aspx?id="
            )


def test_metrics_recorded(crawl):
    eng, sim = crawl
    m = {(r.epoch, r.metric): r.value for r in eng.metrics().collect()}
    assert m[(0, "seeds")] == len(SEEDS)
    total_granted = sum(v for (e, k), v in m.items() if k == "granted")
    assert total_granted == sum(len(g) for g in sim.grant_order)


def test_host_state_matches_simulator_tokens(crawl):
    """The committed token bucket after every epoch equals the simulator's
    `tokens`, float for float, including a host carried through an epoch in
    which it had no pending URL."""
    eng, sim = crawl
    carried = 0
    for e in range(1, sim.epochs + 1):
        assert eng._tokens(e) == sim.tokens[e - 1], e
        pending = {
            r.host
            for r in eng.store.read_snapshot(eng.spark, "frontier", e - 1)
            .select("host").distinct().collect()
        }
        carried += len(set(sim.tokens[e - 1]) - pending)
    assert carried >= 1


def test_unthrottled_crawl_skips_tournament(spark, tmp_path, monkeypatch):
    """With no budget binding, every epoch grants the whole frontier
    without running the grant tournament, and the crawl still equals the
    simulator on seen set, grant order and spans."""
    from gsccca_tax_records_scraper_spark.operators import politeness

    calls = []
    grant = politeness.grant
    monkeypatch.setattr(
        politeness, "grant", lambda *a, **k: calls.append(1) or grant(*a, **k)
    )
    eng = CrawlEngine(spark, tmp_path / "wd", epoch_seconds=1e7)
    n = eng.run(SEEDS)
    sim = simulator.simulate_crawl(SEEDS, epoch_seconds=1e7)
    assert calls == []
    assert n == sim.epochs > 1
    assert {r.url for r in eng.seen().collect()} == sim.seen_urls
    by_epoch: dict[int, list] = {}
    for r in eng.records().collect():
        by_epoch.setdefault(r.epoch, []).append(r)
    for e in range(1, sim.epochs + 1):
        ordered = sorted(
            by_epoch[e],
            key=lambda r: (
                r.crawl_order.depth, r.crawl_order.seed_id,
                r.crawl_order.page, r.crawl_order.link_order, r.url_id,
            ),
        )
        assert [r.url for r in ordered] == sim.grant_order[e - 1], f"epoch {e}"
    docs = eng.documents().collect()
    assert len(docs) == len(sim.spans)
    for d in docs:
        assert [(s.kind, s.text, s.media_ref, s.offset) for s in d.spans] == sim.spans[d.url]
