"""Canonical crawl semantics — the single definition both the sequential
simulator (oracle) and the distributed engine implement. Any change here is
a semantic version bump.

The reference's crawl ordering is publisher-collection iteration order with
skip rules (/root/reference/data_extraction/crawl_articles.py:45-70) and a
per-publisher article cap (:93-100). That order depends on live library
state, so the engine pins a deterministic total order with the same
*structure* (priority-ranked sources, per-source budget, finished-set skip)
— SURVEY.md §1.4-4:

  - frontier pop per host:   (priority DESC, discovered_round ASC, url ASC)
  - global fetch order:      (priority DESC, host ASC, url ASC)
  - politeness budget:       max(1, floor(round_budget / crawl_delay)),
                             further capped by remaining max_articles
  - seen:                    every popped URL (success or failure), exactly once
  - discovery:               child priority = max(parent priority) - 1,
                             depth = min(parent depth) + 1, order-free per round
  - robots:                  disallowed URLs never enter the frontier
"""

from __future__ import annotations

import re
from dataclasses import dataclass

DEFAULT_CRAWL_DELAY = 1.0

_SCHEME_HOST = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)")
_HTTPS_443 = re.compile(r"^(https://[^/:]+):443(/|$)")
_HTTP_80 = re.compile(r"^(http://[^/:]+):80(/|$)")
_TRAILING = re.compile(r"(.+[^/])/$")
_HOST = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:]+)")


def canonical_url(url: str) -> str:
    """Python twin of functions.urls.canonical_url (must stay in lockstep —
    cross-checked property test in tests/test_crawl.py)."""
    # fragment first, trim second — see functions/urls.py:canonical_url
    c = re.sub(r"#.*$", "", url)
    c = c.strip()
    m = _SCHEME_HOST.match(c)
    if m:
        c = m.group(1).lower() + c[m.end() :]
    c = _HTTPS_443.sub(r"\1\2", c)
    c = _HTTP_80.sub(r"\1\2", c)
    c = _TRAILING.sub(r"\1", c)
    return c


def host_of(url: str) -> str:
    m = _HOST.match(url)
    return m.group(1).lower() if m else ""


def is_fetchable(url: str) -> bool:
    return url.startswith("http://") or url.startswith("https://")


def path_of(url: str) -> str:
    m = _SCHEME_HOST.match(url)
    rest = url[m.end() :] if m else url
    return rest if rest.startswith("/") else "/" + rest if rest else "/"


def robots_rule_matches(path: str, rule: str) -> bool:
    """One robots rule against a path: plain rules are prefixes; rules
    carrying RFC 9309's optional wildcards — ``*`` (any char run) and a
    trailing ``$`` (end anchor) — are matched via regex translation.
    Python twin of the per-element branch in frontier.disallowed_col."""
    if "*" in rule or rule.endswith("$"):
        anchor = rule.endswith("$")
        body = rule[:-1] if anchor else rule
        pat = ".*".join(re.escape(part) for part in body.split("*"))
        return re.match(pat + ("$" if anchor else ""), path) is not None
    return path.startswith(rule)


def is_disallowed(
    url: str,
    disallow_prefixes: list[str] | None,
    allow_prefixes: list[str] | None = None,
) -> bool:
    """RFC 9309 longest-match precedence: the most specific (longest-rule)
    match wins; Allow wins ties. So 'Disallow: /' + 'Allow: /news' blocks
    everything except the /news subtree. Specificity is the rule's OCTET
    LENGTH (the RFC's metric) — wildcard rules count their literal length,
    matching is robots_rule_matches."""
    if not disallow_prefixes:
        return False
    p = path_of(url)
    best_dis = max(
        (len(d) for d in disallow_prefixes if robots_rule_matches(p, d)), default=0
    )
    if best_dis == 0:
        return False
    best_allow = max(
        (len(a) for a in (allow_prefixes or ()) if robots_rule_matches(p, a)),
        default=0,
    )
    return best_dis > best_allow


# Crawler-trap heuristics (infinite URL spaces: calendars, session-id
# echoes, faceted search): bounds chosen loose enough that no legitimate
# news article URL trips them, tight enough to cut unbounded generators.
TRAP_MAX_URL_LEN = 2048
TRAP_MAX_SEGMENTS = 12  # path depth, counted as '/' occurrences in the path
TRAP_MAX_QUERY_PARAMS = 8
_TRAP_REPEAT = re.compile(r"(/[^/]+)\1{2,}")  # same segment 3+ times in a row


def is_trap(url: str) -> bool:
    """True for URLs that pattern-match crawler traps. Python twin of
    frontier.is_trap_col (lockstep property test in tests/test_crawl.py):
    over-long URL, over-deep path, a path segment repeating 3+ times
    consecutively (/a/b/b/b/...), or an over-parameterized query string."""
    if len(url) > TRAP_MAX_URL_LEN:
        return True
    no_q = url.split("?", 1)
    p = path_of(no_q[0])
    if p.count("/") > TRAP_MAX_SEGMENTS:
        return True
    if _TRAP_REPEAT.search(p):
        return True
    if len(no_q) == 2 and no_q[1] and no_q[1].count("&") + 1 > TRAP_MAX_QUERY_PARAMS:
        return True
    return False


def host_budget(crawl_delay: float | None, round_budget: float, remaining_cap: int) -> int:
    """Politeness budget for one host in one round. Deterministic budget
    clock: counts, not wall time (SURVEY.md §4.2). At least one fetch per
    round (liveness) unless the article cap is exhausted."""
    delay = crawl_delay if crawl_delay and crawl_delay > 0 else DEFAULT_CRAWL_DELAY
    b = max(1, int(round_budget // delay))
    return max(0, min(b, remaining_cap))


def child_priority(parent_priority: float) -> float:
    return parent_priority - 1.0


@dataclass(frozen=True)
class CrawlParams:
    round_budget: float = 10.0  # politeness budget units per round
    max_articles: int = 1000  # per-host success cap (config.json:5 analog)
    max_rounds: int = 100
    n_buckets: int = 8
    n_salts: int = 4
    # True: drop trap-shaped URLs (is_trap / frontier.is_trap_col) at seed
    # insert and link discovery. Default False so crawl ordering stays
    # bit-identical to the reference-equivalence simulator contract; turn
    # on for open-web crawls where infinite URL spaces are the norm.
    trap_filter: bool = False
    # True: per-host AIMD politeness — any failed fetch from a host doubles
    # its effective crawl delay (capped at ADAPTIVE_DELAY_MAX), an
    # all-success round recovers it toward the robots base; the effective
    # delay feeds the politeness budget, so a struggling host's pop rate
    # backs off automatically. Default False: the simulator-equivalence
    # contract pins budgets to the robots-declared delay alone.
    adaptive_politeness: bool = False
    # Per-host distinct-URL HyperLogLog maintained WITH the crawl (r06):
    # each round merges the popped urls' registers into a `host_url_hll`
    # rewrite table (max-merge — idempotent across resume/replay), the
    # sketch powering frontier-health / per-host coverage stats without a
    # per-host countDistinct over 10^10 urls. 2^p registers per host
    # (p=8 -> ~6.5% standard error, <= 256 rows/host). None disables.
    host_hll_p: int | None = 8


# Adaptive politeness (AIMD-style): multiplicative backoff on any fetch
# failure from a host, multiplicative recovery toward the robots base delay
# on an all-success round. Bounded above so one flaky host can't freeze its
# queue forever; never below the robots-declared base (politeness floor).
ADAPTIVE_DELAY_MAX = 64.0
ADAPTIVE_BACKOFF = 2.0
ADAPTIVE_RECOVER = 1.5


def aimd_delay(cur: float | None, base: float | None, had_fail: bool) -> float:
    """Next effective crawl delay for a host given this round's outcome.
    Python twin of frontier.aimd_delay_col (lockstep property test in
    tests/test_adaptive.py). ``base`` is the robots crawl_delay (defaulted);
    ``cur`` None means the host has no adaptive state yet."""
    b = base if base and base > 0 else DEFAULT_CRAWL_DELAY
    c = cur if cur and cur > 0 else b
    if had_fail:
        return min(ADAPTIVE_DELAY_MAX, c * ADAPTIVE_BACKOFF)
    return max(b, c / ADAPTIVE_RECOVER)
