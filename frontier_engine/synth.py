"""Deterministic synthetic crawl-fixture generator (FIXTURES.md §1-4).

Generates Common-Crawl-shaped tables entirely from a seed (default 42) —
no external data, no network:

- ``pages(url, warc_ts, html, text, lang)`` — the BASELINE.json input_hint
  shape; ``text`` (= expected full-extraction output) and ``lang`` are
  computed by the *same* oracle kernels the pipeline uses, making them the
  byte-identity targets. Hosts are Zipf-distributed (hot-domain skew), URLs
  include non-canonical spellings, and every reference skip-predicate
  (SURVEY.md §2.2) has dedicated edge rows.
- ``seeds(url, priority)`` and ``robots(host, robots_txt)``.

Pages link to each other via <a href> so the frontier discovers new URLs
each round.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pandas as pd

from frontier_engine import extract as ex

BASE_TS = datetime(2021, 3, 1, tzinfo=timezone.utc)

_PARAS = [
    "The quick brown fox jumps over the lazy dog and it was not the only one in the field that day.",
    "It is a truth universally acknowledged that a single crawler in possession of a frontier must be in want of a budget.",
    "Der schnelle braune Fuchs springt über den faulen Hund und das ist nicht die einzige Geschichte für heute.",
    "Le renard brun rapide saute par-dessus le chien paresseux dans une petite ville près de la mer.",
    "Data processing at scale requires careful attention to partitioning, shuffles, and the cost of serialization.",
    "This is the story of a page that wanted to be indexed, and of the analyzers that tokenized it for the search engine.",
    "Die Verarbeitung von Daten in großem Maßstab erfordert eine sorgfältige Planung der Partitionen und der Ressourcen.",
    "Chaque page de ce site contient des informations utiles pour les robots qui explorent le web avec politesse.",
]


def _mk_host(rng: random.Random, i: int) -> str:
    tld = rng.choice(["com", "org", "net", "de", "fr", "io"])
    return f"site{i:03d}.{tld}"


def _page_html(rng: random.Random, title: str, n_paras: int, links: list[str], keywords: str) -> str:
    paras = "".join(
        f"<p>{_PARAS[rng.randrange(len(_PARAS))]} Section {rng.randrange(1000)}.</p>\n"
        for _ in range(n_paras)
    )
    anchors = "".join(f'<a href="{h}">link {j}</a> ' for j, h in enumerate(links))
    return (
        "<!doctype html>\n<html>\n<head>\n"
        f"<title>{title}</title>\n"
        f'<meta name="description" content="Description of {title} with   extra\n   whitespace">\n'
        f'<meta name="keywords" content="{keywords}">\n'
        "</head>\n<body>\n"
        f"<header><nav>{anchors}</nav></header>\n"
        f"<h1>{title}</h1>\n<main>\n<h2>Overview</h2>\n{paras}"
        f'<img src="x.png" alt="an illustrative image">\n'
        "</main>\n<footer>Copyright 2021 — contact us</footer>\n</body>\n</html>\n"
    )


def generate_pages(
    n_pages: int = 2000, seed: int = 42, n_hosts: int = 100, compute_text: bool = True
) -> pd.DataFrame:
    """Deterministic pages table with Zipf host skew + §1.1 edge rows.

    ``compute_text=False`` skips the oracle text/lang fill (the generator's
    dominant cost) for bench-scale corpora where only the frontier runs —
    the byte-identity tests always generate with ``True``.
    """
    rng = random.Random(seed)
    hosts = [_mk_host(rng, i) for i in range(n_hosts)]
    zipf_w = [1.0 / (i + 1) for i in range(n_hosts)]

    rows: list[dict] = []

    def url_for(i: int, host: str) -> str:
        path = f"/section{i % 17}/page{i}.html"
        q = f"?id={i}&ref=gen" if i % 3 == 0 else ""
        return f"https://{host}{path}{q}"

    # regular rows
    for i in range(n_pages):
        host = rng.choices(hosts, weights=zipf_w, k=1)[0]
        url = url_for(i, host)
        # non-canonical spellings for a deterministic subset
        if i % 11 == 0:
            url = url.replace("https://", "HTTPS://").replace(host, host.upper())
        elif i % 13 == 0:
            url = url.replace(host, host + ":443")
        elif i % 17 == 0:
            url = url + "#fragment"
        elif i % 19 == 0:
            url = url.replace("/section", "/./section")
        n_links = rng.randrange(1, 6)
        links = [url_for(rng.randrange(n_pages), rng.choices(hosts, weights=zipf_w, k=1)[0]) for _ in range(n_links)]
        title = f"Page {i} of {host}"
        kws = ", ".join(rng.choice(["data", "spark", "crawl", "web", "index", "Search", "SEARCH"]) for _ in range(rng.randrange(2, 8)))
        html = _page_html(rng, title, rng.randrange(3, 9), links, kws)
        ts = BASE_TS + timedelta(seconds=i * 37 % 500000)
        rows.append({"url": url, "warc_ts": ts, "html": html.encode("utf-8")})
        # duplicate URLs with distinct warc_ts (keep-newest dedup target)
        if i % 23 == 0:
            rows.append({"url": url, "warc_ts": ts + timedelta(hours=5), "html": html.replace(title, title + " v2").encode("utf-8")})
            rows.append({"url": url, "warc_ts": ts + timedelta(hours=2), "html": html.replace(title, title + " v1").encode("utf-8")})

    # --- §1.1 mandatory edge rows -----------------------------------------
    e_host = hosts[0]
    body_filler = " ".join(_PARAS) * 3

    def edge(url_suffix: str, html_bytes: bytes, ts_off: int = 0):
        rows.append(
            {
                "url": f"https://{e_host}/edge/{url_suffix}",
                "warc_ts": BASE_TS + timedelta(seconds=900000 + ts_off),
                "html": html_bytes,
            }
        )

    edge("png", b"\x89PNG\r\n\x1a\n" + bytes(range(256)) * 4)                      # binary_mime
    edge("too-big", b"<html><body>" + b"x" * (1024 * 1024 + 1) + b"</body></html>")  # too_big
    edge("too-short", b"<html><body>hi</body></html>")                              # too_short
    edge("short-main", ("<html><head><title>t</title></head><body><main><p>tiny</p></main><p>" + body_filler + "</p></body></html>").encode())  # short_main
    # >10% invalid-in-utf8 bytes decoded with errors=replace → mojibake; BOM pins the utf-8 path
    edge("mojibake", b"\xef\xbb\xbf<html><body><p>" + (b"ab\xff\xfe " * 120) + b"</p></body></html>")
    edge("mojibake-mild", b"\xef\xbb\xbf<html><body><p>" + (b"abcdefgh handled text \xff " * 60) + b"</p></body></html>")
    edge("no-body", b"<html><head><title>only a head here, nothing more to see in this document at all</title><meta name=\"x\" content=\"" + b"y" * 200 + b"\"></head></html>")
    edge("empty-extraction", b"<html><head><title></title></head><body><script>var x = 1;</script><div></div><span>   </span></body></html>" + b"<!-- " + b"c" * 200 + b" -->")
    edge("latin1", ("<html><head><title>Caf\xe9 page</title></head><body><main><p>" + ("Le caf\xe9 fran\xe7ais est tr\xe8s bon. " * 30) + "</p></main></body></html>").encode("latin-1"))
    edge("utf8-bom", b"\xef\xbb\xbf" + ("<html><head><title>BOM page</title></head><body><main><p>" + "Plain utf-8 text with BOM marker present. " * 20 + "</p></main></body></html>").encode("utf-8"))
    edge("no-title-h1", ("<html><head></head><body><h1>Heading One Title</h1><main><p>" + body_filler + "</p></main></body></html>").encode())
    edge("no-title-h2", ("<html><head></head><body><h2>Heading Two Title</h2><main><p>" + body_filler + "</p></main></body></html>").encode())
    edge("title-class", ('<html><head></head><body><div class="title">Class Title Here</div><main><p>' + body_filler + "</p></main></body></html>").encode())
    edge("no-title", ("<html><head></head><body><main><p>" + body_filler + "</p></main></body></html>").encode())
    many_kws = ", ".join([f"keyword-{i % 35}" for i in range(60)] + ["x" * 120])
    edge("many-keywords", (f'<html><head><title>kw page</title><meta name="keywords" content="{many_kws}"></head><body><main><p>' + body_filler + "</p></main></body></html>").encode())
    # pre-1970 and far-future timestamps
    rows.append({"url": f"https://{e_host}/edge/pre-epoch", "warc_ts": datetime(1969, 12, 31, 23, 0, tzinfo=timezone.utc), "html": ("<html><head><title>old</title></head><body><main><p>" + body_filler + "</p></main></body></html>").encode()})
    rows.append({"url": f"https://{e_host}/edge/far-future", "warc_ts": datetime(2200, 1, 1, tzinfo=timezone.utc), "html": ("<html><head><title>future</title></head><body><main><p>" + body_filler + "</p></main></body></html>").encode()})

    if not compute_text:
        df = pd.DataFrame(rows)
        df["text"] = None
        df["lang"] = None
        df["warc_ts"] = df["warc_ts"].dt.tz_convert("UTC").dt.tz_localize(None)
        return df[["url", "warc_ts", "html", "text", "lang"]]

    # fill expected text/lang via the oracle kernels (FIXTURES.md §1)
    texts, langs = [], []
    for r in rows:
        enc = ex.detect_encoding(r["html"][: 1024 * 1024])
        s = ex.bytes_to_str(r["html"][: 1024 * 1024], enc)
        doc = ex.parse_html(s)
        if doc.body is None:
            texts.append(None)
            langs.append(None)
            continue
        full = ex.extract_plain_text(doc, alt_texts=True, preserve_formatting=False)
        if full:
            # mirror the mojibake scrub (process.py:264-268) so `text` equals
            # the pipeline's post-scrub full_body for surviving rows
            repl = full.count("�")
            if repl / len(full) > 0.1:
                full = None
            elif repl > 0:
                import re as _re

                full = _re.sub(r"\s{2,}", " ", full.replace("�", "")).strip()
        texts.append(full if full else None)
        langs.append(ex.detect_lang(full)[0] if full else None)
    df = pd.DataFrame(rows)
    df["text"] = texts
    df["lang"] = langs
    df["warc_ts"] = df["warc_ts"].dt.tz_convert("UTC").dt.tz_localize(None)
    return df[["url", "warc_ts", "html", "text", "lang"]]


def generate_pages_spark(
    spark,
    n_pages: int,
    n_hosts: int = 200,
    paras: int = 40,
    n_links: int = 4,
    seed: int = 42,
    hot_host_frac: float = 0.0,
):
    """Distributed deterministic pages generator (bench scale): pure column
    expressions over ``spark.range`` — no Python, no driver-side data.

    Host assignment is quadratically skewed (hot-host head, Zipf-ish) to
    exercise the salted repartition; link targets are arithmetic (always
    resolvable) so frontier rounds keep discovering real pages; HTML size
    scales with ``paras`` (≈120 B each) to model real-crawl parse cost.
    ``hot_host_frac`` > 0 routes that fraction of pages to ONE host
    (``hot.example.com``) — the skew-stress shape (BENCH/run_skew.py)."""
    from pyspark.sql import functions as F

    para_pool = F.array(*[F.lit(p) for p in _PARAS])

    def host_of_id(idc):
        u = F.pmod(F.xxhash64(idc + seed), F.lit(1_000_000)) / 1_000_000.0
        base = F.concat(
            F.lit("site"),
            F.floor(u * u * n_hosts).cast("int").cast("string"),
            F.lit(".example.com"),
        )
        if not hot_host_frac:
            return base
        hot = F.pmod(F.xxhash64(idc + seed + 1), F.lit(1000)) < int(hot_host_frac * 1000)
        return F.when(hot, F.lit("hot.example.com")).otherwise(base)

    def url_of_id(idc):
        return F.concat(
            F.lit("https://"), host_of_id(idc), F.lit("/p/"), idc.cast("string"), F.lit(".html")
        )

    df = spark.range(n_pages).repartition(spark.sparkContext.defaultParallelism)
    idc = F.col("id")
    para_idx = F.sequence(F.lit(0), F.lit(paras - 1))
    body = F.array_join(
        F.transform(
            para_idx,
            lambda i: F.concat(
                F.lit("<p>"),
                F.element_at(para_pool, (F.pmod(idc + i, F.lit(len(_PARAS))) + 1).cast("int")),
                F.lit(" Token"),
                F.pmod(idc * 31 + i * 7, F.lit(997)).cast("string"),
                F.lit(".</p>"),
            ),
        ),
        "\n",
    )
    links = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(n_links)),
            lambda k: F.concat(
                F.lit('<a href="'),
                url_of_id(F.pmod(idc * 131 + k * 2654435761, F.lit(n_pages))),
                F.lit('">l</a>'),
            ),
        ),
        " ",
    )
    html = F.encode(
        F.concat(
            F.lit("<!doctype html><html><head><title>Page "),
            idc.cast("string"),
            F.lit('</title><meta name="description" content="Synthetic page"></head><body><nav>'),
            links,
            F.lit("</nav><h1>Page "),
            idc.cast("string"),
            F.lit("</h1><main>"),
            body,
            F.lit("</main><footer>generated</footer></body></html>"),
        ),
        "utf-8",
    )
    return df.select(
        url_of_id(idc).alias("url"),
        (F.to_timestamp(F.lit("2021-03-01 00:00:00")) + F.make_interval(secs=F.pmod(idc * 37, F.lit(500000)))).alias("warc_ts"),
        html.alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def generate_seeds(pages: pd.DataFrame, n_seeds: int = 50, seed: int = 42) -> pd.DataFrame:
    """Seed list: subset of pages.url incl. non-canonical respellings
    (proves canonicalize-before-seen), deterministic priorities with dups."""
    rng = random.Random(seed + 1)
    urls = sorted(pages["url"].unique().tolist())
    picks = [urls[rng.randrange(len(urls))] for _ in range(n_seeds)]
    rows = []
    for i, u in enumerate(picks):
        if i % 7 == 0:
            u = u.replace("https://", "HTTPS://") + "#seeded"
        rows.append({"url": u, "priority": round(rng.randrange(0, 20) / 20.0, 2)})
    return pd.DataFrame(rows).drop_duplicates(subset=["url"]).reset_index(drop=True)


def generate_robots(pages: pd.DataFrame, seed: int = 42) -> pd.DataFrame:
    """Per-host robots.txt: allow-all / disallow-all / path-prefix rules /
    crawl-delay; a deterministic subset of hosts absent (default-allow)."""
    rng = random.Random(seed + 2)
    hosts = sorted({u.split("/")[2].split(":")[0].lower() for u in pages["url"]})
    rows = []
    for i, h in enumerate(hosts):
        if i % 5 == 4:
            continue  # absent → default allow
        kind = i % 4
        if kind == 0:
            txt = "User-agent: *\nDisallow:\n"
        elif kind == 1:
            txt = "User-agent: *\nDisallow: /\n"
        elif kind == 2:
            txt = "User-agent: *\nDisallow: /section3/\nDisallow: /edge/\nAllow: /section3/page33.html\n"
        else:
            txt = f"User-agent: *\nCrawl-delay: {rng.randrange(1, 10)}\nDisallow: /section7/\n"
        rows.append({"host": h, "robots_txt": txt})
    return pd.DataFrame(rows)
