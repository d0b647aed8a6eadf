"""Real HTTP fetch slot: a ``mapInPandas`` fetcher over the popped batch.

This is S2's real form (reference: data_extraction/crawl_articles.py:87-100
delegates fetching to the Fundus library; config.json:6 is its timeout). The
engine's fetch contract (rounds.py:Fetcher) stays identical to the offline
``synthetic_fetcher`` — input: the popped frontier batch; output: the same
rows plus (html, out_links, fetch_ok, lang, publisher) — but the rows are
actually fetched over HTTP:

- **Gateway addressing.** Frontier URLs are logical
  (``https://<host>/<path>``); requests go to a gateway —
  ``GET {gateway}/<host><path>`` — the proxy/sidecar shape a production
  crawler uses (DNS + TLS terminate at the egress tier, workers speak plain
  HTTP to it). Tests run a loopback ``http.server`` gateway serving the
  deterministic synthetic corpus, so the full network path executes with no
  internet.
- **Connection reuse.** One keep-alive ``http.client.HTTPConnection`` per
  task, reused across every row in the partition (re-opened only after
  errors) — the connection-pool discipline; per-row work is one
  request/response on a warm socket.
- **Per-row timeout + bounded retries.** Socket timeout per request;
  transient failures (timeout, connection reset, HTTP 5xx) retry up to
  ``max_retries`` times on a fresh connection, then the row is emitted with
  ``fetch_ok=false`` — the round loop logs it ``failed`` and a requeue
  policy can re-inject failed log rows into the frontier (they are in
  ``seen``, so re-entry is an explicit policy step, not an accident).
  HTTP 404 is permanent: no retry, ``fetch_ok=false`` — mirrors the
  synthetic fetcher's miss anti-join.
- **Politeness pacing inside the batch.** The popped batch is repartitioned
  by host (a shuffle of the TINY popped set only — never html), so each
  host's URLs land in one task, ordered by the canonical fetch sequence;
  the task sleeps to keep consecutive same-host requests >= that host's
  crawl delay (north rule: per-host crawl-delay enforced inside mapInPandas
  batches). The per-round budget (semantics.host_budget) stays the
  deterministic count-based cap; this adds the wall-clock spacing a live
  server sees.
- **Metadata channel.** ``Content-Language`` / ``X-Publisher`` /
  ``X-Out-Links`` (JSON) response headers carry what the downstream plan
  needs — the gateway tier is where link/metadata extraction terminates in
  this architecture, exactly the fields the synthetic backend's web table
  join provides, so engine state (crawl log, seen, pages) is
  fetcher-implementation-independent (asserted in tests/test_crawl.py).
- **One GET per popped URL.** The round loop may evaluate the fetch plan
  twice (rounds.py:build_round docstring), and a live GET is not a pure
  function of its input, so the fetcher returns its output persisted
  memory+disk (``session.scoped``): the first action runs the requests, the
  second reads the persisted rows, and the round's cache scope releases
  them at commit.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..session import scoped
from .semantics import DEFAULT_CRAWL_DELAY, host_of, path_of

_ADDED_FIELDS = [
    T.StructField("html", T.BinaryType(), True),
    T.StructField("out_links", T.ArrayType(T.StringType()), True),
    T.StructField("fetch_ok", T.BooleanType(), False),
    T.StructField("lang", T.StringType(), True),
    T.StructField("publisher", T.StringType(), True),
    T.StructField("etag", T.StringType(), True),
    T.StructField("not_modified", T.BooleanType(), False),
    T.StructField("redirect_to", T.StringType(), True),
    T.StructField("last_modified", T.StringType(), True),
]


def http_fetcher(
    gateway: str,
    crawl_delays: dict[str, float] | None = None,
    timeout_s: float = 5.0,
    max_retries: int = 1,
    validators: DataFrame | None = None,
):
    """Build a rounds.Fetcher that GETs each popped URL via ``gateway``
    (``http://host:port`` — no trailing slash). ``crawl_delays`` maps host ->
    seconds between consecutive requests to that host (missing hosts use
    DEFAULT_CRAWL_DELAY); pass scaled-down values in tests. The frame a
    fetch returns is ``scoped`` (persisted, released by the open
    ``cache_scope()``).

    ``validators`` (optional): a (url, etag[, last_modified]) DataFrame of
    entity validators from the previous crawl of each url — the shape
    ``live_pages(catalog).select("url", "etag", "last_modified")`` returns.
    Rows whose url has a validator are fetched CONDITIONALLY — strong
    validator first: ``If-None-Match`` when an etag exists (RFC 9110
    §13.1.2), else ``If-Modified-Since`` from the stored Last-Modified
    (§13.1.3) for the large slice of the web that serves no ETag: a 304
    answer carries no body, and the fetcher emits the row with
    ``fetch_ok=true, not_modified=true, html=null`` — the round loop then
    KEEPS the stored page (no pages append, no re-extraction) and logs the
    url ``revalidated``. This is the TTL-recrawl fast path: at re-crawl
    scale most of the web is unchanged, so most revisits cost a ~200-byte
    header exchange instead of a body + a clean_html pass. The validator
    join touches only the popped batch (tiny; broadcast-sized dim of urls
    due for recrawl this round) — never the corpus."""
    if gateway.endswith("/"):
        gateway = gateway[:-1]
    g_host = host_of(gateway)
    g_port_m = gateway.rsplit(":", 1)
    g_port = int(g_port_m[1]) if len(g_port_m) == 2 and g_port_m[1].isdigit() else 80
    delays = dict(crawl_delays or {})

    def fetch(popped: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql import functions as F

        in_cols = [f.name for f in popped.schema.fields]
        if validators is not None:
            # JOIN DIRECTION MATTERS AT SCALE: validators is the url->etag
            # dim of everything ever fetched — corpus-sized on a real
            # recrawl — while the popped batch is one round's politeness
            # budget. Broadcasting validators would ship the corpus to
            # every task; instead the TINY side broadcasts twice: a
            # broadcast semi-join prunes validators down to the popped
            # urls (scan-side pruning of the big table), and only that
            # pruned, popped-sized slice broadcasts back onto the batch.
            lm_col = (
                F.col("last_modified")
                if "last_modified" in validators.columns
                else F.lit(None).cast("string")
            )
            vals = validators.select(
                F.col("url"),
                F.col("etag").alias("__val_etag"),
                lm_col.alias("__val_lm"),
            ).join(F.broadcast(popped.select("url")), "url", "left_semi")
            popped = popped.join(F.broadcast(vals), "url", "left")
        else:
            popped = popped.withColumn(
                "__val_etag", F.lit(None).cast("string")
            ).withColumn("__val_lm", F.lit(None).cast("string"))
        out_schema = T.StructType(
            [popped.schema[c] for c in in_cols] + _ADDED_FIELDS
        )

        def run(batches):
            import http.client

            conn: http.client.HTTPConnection | None = None
            last_req: dict[str, float] = {}

            def get(host: str, path: str, etag: str | None, lm: str | None):
                nonlocal conn
                if conn is None:
                    conn = http.client.HTTPConnection(g_host, g_port, timeout=timeout_s)
                # strong validator wins; a client SHOULD NOT send both
                # (RFC 9110 §13.1.3)
                if etag:
                    headers = {"If-None-Match": etag}
                elif lm:
                    headers = {"If-Modified-Since": lm}
                else:
                    headers = {}
                conn.request("GET", f"/{host}{path}", headers=headers)
                resp = conn.getresponse()
                body = resp.read()  # drain — keeps the keep-alive socket clean
                return resp, body

            def fetch_row(
                host: str, url: str, val_etag: str | None, val_lm: str | None
            ):
                """-> (html, out_links, ok, lang, publisher, etag,
                not_modified, redirect_to, last_modified)"""
                nonlocal conn
                path = path_of(url)
                for attempt in range(max_retries + 1):
                    # politeness: space same-host requests by the crawl delay
                    wait = last_req.get(host, float("-inf")) + delays.get(
                        host, DEFAULT_CRAWL_DELAY
                    ) - time.monotonic()
                    if wait > 0:
                        time.sleep(wait)
                    last_req[host] = time.monotonic()
                    try:
                        resp, body = get(host, path, val_etag, val_lm)
                    except (OSError, http.client.HTTPException):
                        # timeout / reset / server-closed keep-alive: the
                        # socket is unusable — reconnect and retry
                        if conn is not None:
                            conn.close()
                            conn = None
                        continue
                    if resp.status == 304:
                        # unchanged: keep the stored copy; validators repeat
                        return (
                            None,
                            None,
                            True,
                            None,
                            None,
                            resp.headers.get("ETag") or val_etag,
                            True,
                            None,
                            resp.headers.get("Last-Modified") or val_lm,
                        )
                    if resp.status == 200:
                        links = json.loads(resp.headers.get("X-Out-Links") or "null")
                        return (
                            body,
                            links,
                            True,
                            resp.headers.get("Content-Language"),
                            resp.headers.get("X-Publisher"),
                            resp.headers.get("ETag"),
                            False,
                            None,
                            resp.headers.get("Last-Modified"),
                        )
                    if resp.status in (301, 302, 303, 307, 308):
                        # NOT auto-followed: the target lives on an
                        # arbitrary host whose politeness budget and robots
                        # rules must apply — the round loop re-enqueues it
                        # through the normal discovery pipeline. A relative
                        # Location resolves against the LOGICAL url
                        # (RFC 9110 §10.2.2); a missing Location is a
                        # malformed response -> failed.
                        loc = resp.headers.get("Location")
                        if loc:
                            from urllib.parse import urljoin

                            return (
                                None,
                                None,
                                True,
                                None,
                                None,
                                None,
                                False,
                                urljoin(url, loc),
                                None,
                            )
                        return (None, None, False, None, None, None, False, None, None)
                    if resp.status < 500:  # 404 etc: permanent, no retry
                        return (None, None, False, None, None, None, False, None, None)
                    # 5xx: transient — retry on the same (kept-alive) socket,
                    # honoring Retry-After (RFC 9110 §10.2.3) when the server
                    # names its own backoff, capped at the request timeout
                    ra = resp.headers.get("Retry-After")
                    if ra:
                        try:
                            time.sleep(min(float(ra), timeout_s))
                        except ValueError:
                            pass  # HTTP-date form: fall back to politeness
                return (None, None, False, None, None, None, False, None, None)

            try:
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    # canonical fetch order within the task = the engine's
                    # global order restricted to this host partition
                    pdf = pdf.sort_values("seq", kind="mergesort")
                    results = [
                        fetch_row(
                            h,
                            u,
                            (e if isinstance(e, str) and e else None),
                            (m if isinstance(m, str) and m else None),
                        )
                        for h, u, e, m in zip(
                            pdf["host"], pdf["url"], pdf["__val_etag"], pdf["__val_lm"]
                        )
                    ]
                    res = pd.DataFrame(
                        results,
                        columns=[
                            "html",
                            "out_links",
                            "fetch_ok",
                            "lang",
                            "publisher",
                            "etag",
                            "not_modified",
                            "redirect_to",
                            "last_modified",
                        ],
                        index=pdf.index,
                    )
                    yield pd.concat([pdf[in_cols], res], axis=1)
            finally:
                if conn is not None:
                    conn.close()

        # one task per host set: the popped batch is tiny (one round's
        # politeness budget), so this shuffle moves URLs + metadata only —
        # html never shuffles, it is born in the fetch task and consumed by
        # the downstream Arrow extract in the same partitions
        return scoped(popped.repartition("host").mapInPandas(run, schema=out_schema))

    return fetch
