"""Single-threaded reference simulator (SURVEY §5.3-5.4).

Re-implements the reference scraper's semantics — FIFO discovery order,
ordered-dict URL dedup, junk filter, cancellation skip, politeness budget —
as plain sequential Python over the synthetic site (sitegen). The Spark
engine must reproduce this simulator's grant order, final URL-seen set, and
per-doc span sequences exactly (north_rule).

Reference semantics encoded here:
  - frontier accumulates in discovery order (lien_index_scraper.py:471;
    realestate_index_scraper.py:486 — concat in loop order)
  - dedup keeps the FIRST occurrence (ordered-dict dedup,
    realestate_index_scraper.py:474; drop_duplicates :510)
  - junk `maxrows` URLs dropped before frontier persist (lien:540)
  - detail pages containing CANCELLATION are skipped but marked done (lien:574-578)
  - politeness: serial uniform(3000,5000)ms delays => per-host rate; modeled
    as a per-epoch token-bucket budget (SURVEY W4/T6)
  - robots gating is NEW per north_rule (reference is login-gated, no robots)

Total grant order (engine + simulator contract): within a host, pending
frontier rows are granted in ascending
(depth, seed_id, page, link_order, url_id) order. At depth 1 this equals the
reference's FIFO discovery order; deeper levels extend it deterministically.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import sitegen
from .functions import extract, urltools


@dataclass
class RobotsRule:
    disallow_prefixes: tuple[str, ...]
    rate_per_sec: float
    burst: int


def default_robots() -> dict[str, RobotsRule]:
    """Parity politeness: 0.25 req/s ~ uniform(3000,5000)ms delays
    (lien_index_scraper.py:96-97)."""
    return {
        sitegen.HOT_HOST: RobotsRule((sitegen.DISALLOWED_PREFIX,), 0.25, 10),
        sitegen.ALT_HOST: RobotsRule((sitegen.DISALLOWED_PREFIX,), 0.5, 5),
    }


def order_key(row: dict) -> tuple:
    co = row["crawl_order"]
    return (co["depth"], co["seed_id"], co["page"], co["link_order"], row["url_id"])


def robots_allowed(url: str, host: str, robots: dict[str, RobotsRule]) -> bool:
    rule = robots.get(host)
    if rule is None:
        return True
    path = url.split(host, 1)[1] if host in url else url
    return not any(path.startswith(p) for p in rule.disallow_prefixes)


@dataclass
class SimResult:
    grant_order: list[list[str]] = field(default_factory=list)  # per-epoch urls
    seen_urls: set[str] = field(default_factory=set)
    records: list[dict] = field(default_factory=list)
    spans: dict[str, list[tuple]] = field(default_factory=dict)  # url -> spans
    frontier: list[dict] = field(default_factory=list)
    epochs: int = 0
    # per-epoch copy of the token bucket after the grant: host -> tokens
    tokens: list[dict[str, float]] = field(default_factory=list)


def _mk_row(url: str, seed_id: int, page: int, link_order: int, depth: int,
            parent_url_id: int | None, epoch: int) -> dict:
    uid = urltools.url_id(url)
    return {
        "url_id": uid,
        "url": url,
        "host": urltools.host_of(url),
        "host_bucket": urltools.host_bucket_of(uid),
        "priority": float(depth),
        "crawl_order": {"seed_id": seed_id, "page": page, "link_order": link_order, "depth": depth},
        "status": "",
        "lineage": {"parent_url_id": parent_url_id, "seed_id": seed_id,
                    "depth": depth, "discovered_epoch": epoch},
    }


def _admit(candidates: list[dict], result: SimResult, robots: dict[str, RobotsRule]) -> list[dict]:
    """Junk filter + robots gate + dedup-keep-first (vs seen and in-batch),
    in candidate order. Mirrors J1/P2 + the robots gate."""
    admitted = []
    batch_seen: set[str] = set()
    for row in candidates:
        url = row["url"]
        if urltools.is_junk(url):
            continue
        if not robots_allowed(url, row["host"], robots):
            continue
        if url in result.seen_urls or url in batch_seen:
            continue
        batch_seen.add(url)
        admitted.append(row)
    for row in admitted:
        result.seen_urls.add(row["url"])
        result.frontier.append(row)
    return admitted


def simulate_crawl(
    seed_ids: list[int],
    epoch_seconds: float = 400.0,
    robots: dict[str, RobotsRule] | None = None,
    max_epochs: int = 1000,
) -> SimResult:
    robots = robots if robots is not None else default_robots()
    result = SimResult()

    # --- search phase (epoch 0): seeds -> SERP pages -> frontier ----------
    # (lien_index_scraper.py:362-549 — form fill + paginated extraction)
    candidates: list[dict] = []
    for seed_id in sorted(seed_ids):
        for page in range(1, sitegen.n_serp_pages(seed_id) + 1):
            base = sitegen.serp_base_url(seed_id, page)
            html = sitegen.serp_html(seed_id, page)
            for i, raw in enumerate(urltools.extract_raw_hrefs(html)):
                url = urltools.canonicalize(base, raw)
                candidates.append(_mk_row(url, seed_id, page, i, 1, None, 0))
    _admit(candidates, result, robots)

    # --- drain phase: politeness-budgeted epochs ---------------------------
    tokens: dict[str, float] = {}
    epoch = 0
    while any(r["status"] == "" for r in result.frontier) and epoch < max_epochs:
        epoch += 1
        pending_by_host: dict[str, list[dict]] = {}
        for r in result.frontier:
            if r["status"] == "":
                pending_by_host.setdefault(r["host"], []).append(r)
        granted: list[dict] = []
        for host in sorted(pending_by_host):
            rule = robots.get(host, RobotsRule((), 1.0, 1))
            tok = min(
                tokens.get(host, 0.0) + rule.rate_per_sec * epoch_seconds,
                rule.rate_per_sec * epoch_seconds + rule.burst,
            )
            budget = int(tok)
            rows = sorted(pending_by_host[host], key=order_key)[:budget]
            tokens[host] = tok - len(rows)
            granted.extend(rows)
        granted.sort(key=order_key)
        result.grant_order.append([r["url"] for r in granted])
        result.tokens.append(dict(tokens))

        # fetch + parse granted urls; collect out-links
        new_candidates: list[dict] = []
        for r in granted:
            url = r["url"]
            html = sitegen.detail_html(url)
            ocr = sitegen.detail_ocr_text(url)
            rec = extract.parse_detail(url, html, ocr)
            rec["url_id"] = r["url_id"]
            rec["epoch"] = epoch
            result.records.append(rec)
            if not rec["cancelled"]:
                doc_no = int(url.rsplit("id=", 1)[1])
                result.spans[url] = extract.record_spans(
                    rec, ocr, sitegen.media_ref(doc_no)
                )
                co = r["crawl_order"]
                for j, raw in enumerate(urltools.extract_raw_hrefs(html)):
                    child = urltools.canonicalize(url, raw)
                    new_candidates.append(
                        _mk_row(child, co["seed_id"], co["page"], j,
                                co["depth"] + 1, r["url_id"], epoch)
                    )
            r["status"] = "done"
        new_candidates.sort(key=order_key)
        _admit(new_candidates, result, robots)

    result.epochs = epoch
    return result
