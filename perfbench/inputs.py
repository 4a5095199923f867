"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of the workload seed, built with numpy in the
benchmark process, so the same arrays feed both Spark and the oracles.
"""

from __future__ import annotations

import datetime as dt
import html as htmllib

import numpy as np
import pandas as pd

from linkgraph import datagen

EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
PAGES_PER_HOST = 40
MISSING_PER_HOST = 6  # uncrawled link targets per host: dangling vertices

_VOCAB = np.array(
    "crawl graph rank page link host web index query shard block merge "
    "vertex edge label text anchor token parse fetch queue store frame "
    "spark table column batch stream window join group count order "
    "alpha beta gamma delta omega sigma theta kappa lambda zeta".split()
)


def _page_url(i: int) -> str:
    return f"https://host{i // PAGES_PER_HOST}.example/page/{i}"


def _missing_url(host: int, j: int) -> str:
    return f"https://host{host}.example/missing?id={j}&src=crawl"


def crawl_pages(seed: int, num_pages: int, links_per_page: int = 12,
                paragraphs: int = 5, words: int = 60):
    """Pages ``(url, warc_ts, html, text, lang)`` plus the expected link set.

    About 80% of a page's links stay on its host, 10% point at uncrawled
    urls and 10% at other hosts.  Links are written with fragments, upper
    case scheme/host, html entities, repeats and self links, which url
    normalisation and the edge dedup must fold away.  About 1% of pages are
    crawled twice (same url and html, later timestamp).

    Returns ``(pdf, expected)``: the pandas pages frame and the sorted list of
    ``(src_url, dst_url)`` pairs the ingest must produce.
    """
    rng = np.random.default_rng(seed)
    n_hosts = max(1, num_pages // PAGES_PER_HOST)
    hosts = np.arange(num_pages) // PAGES_PER_HOST
    k = rng.integers(links_per_page - 4, links_per_page + 5, size=num_pages)
    total = int(k.sum())
    owner = np.repeat(np.arange(num_pages), k)
    kind = rng.random(total)
    same = hosts[owner] * PAGES_PER_HOST + rng.integers(0, PAGES_PER_HOST, total)
    same = np.minimum(same, num_pages - 1)
    other = rng.integers(0, num_pages, total)
    miss_host = np.where(rng.random(total) < 0.5, hosts[owner],
                         rng.integers(0, n_hosts, total))
    miss_j = rng.integers(0, MISSING_PER_HOST, total)
    variant = rng.integers(0, 10, total)
    word_ix = rng.integers(0, len(_VOCAB), size=(num_pages, paragraphs * words))
    bold = rng.integers(0, words, size=(num_pages, paragraphs))

    rows, expected = [], set()
    start = 0
    for i in range(num_pages):
        url = _page_url(i)
        anchors, targets = [], []
        for t in range(start, start + int(k[i])):
            if kind[t] < 0.8:
                canon = _page_url(int(same[t]))
            elif kind[t] < 0.9:
                canon = _missing_url(int(miss_host[t]), int(miss_j[t]))
            else:
                canon = _page_url(int(other[t]))
            targets.append(canon)
            v = variant[t]
            href = htmllib.escape(canon, quote=True)
            if v == 0:
                href += f"#sec{t % 7}"
            elif v == 1:
                scheme, rest = href.split("://", 1)
                host, path = rest.split("/", 1)
                href = f"{scheme.upper()}://{host.upper()}/{path}"
            anchors.append(f'<a class="l" href="{href}">link {t % 97}</a>')
            if v == 2:  # the same link twice on one page
                anchors.append(f'<a href="{href}">again</a>')
        if i % 50 == 7:  # a self link, dropped by the ingest
            anchors.append(f'<a href="{url}#top">top</a>')
        start += int(k[i])
        expected.update((url, d) for d in targets if d != url)

        ws = _VOCAB[word_ix[i]].reshape(paragraphs, words)
        paras, texts = [], []
        for p in range(paragraphs):
            line = list(ws[p])
            b = int(bold[i, p])
            plain = " ".join(line) + " & co"
            line[b] = f"<b>{line[b]}</b>"
            paras.append(f"<p>{' '.join(line)} &amp; co</p>")
            texts.append(plain)
        text = " ".join(texts)
        per = max(1, len(anchors) // paragraphs)
        body = []
        for p in range(paragraphs):
            body.append(paras[p])
            body.extend(anchors[p * per:(p + 1) * per])
        body.extend(anchors[paragraphs * per:])
        page_html = (
            f"<html><head><title>host{hosts[i]} page {i}</title>"
            f"<script>var pid = {i};</script></head><body>"
            f"<div class=\"nav\">menu</div>{''.join(body)}</body></html>"
        )
        rows.append((url, EPOCH + dt.timedelta(seconds=37 * i),
                     page_html.encode("utf-8"), text, "de" if i % 10 == 3 else "en"))
    for i in range(0, num_pages, 97):  # recrawls
        url, ts, h, text, lang = rows[i]
        rows.append((url, ts + dt.timedelta(days=1), h, text, lang))
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    return pdf, sorted(expected)


def rmat_hub_edges(seed: int, draws: int, levels: int,
                   hub_degree: int) -> tuple[np.ndarray, np.ndarray]:
    """R-MAT draws (``linkgraph.datagen``'s integer hash) plus one planted hub.

    The seed picks the window ``[offset, offset + draws)`` of R-MAT edge
    indices and the hub vertex; the hub links to ``hub_degree`` vertices
    spaced 7 apart.  Self loops dropped, deduplicated.
    """
    rng = np.random.default_rng(seed)
    offset = int(rng.integers(0, 1 << 20))
    hub = int(rng.integers(0, 1 << levels))
    i = np.arange(offset, offset + draws, dtype=np.int64)
    src = np.zeros(draws, dtype=np.int64)
    dst = np.zeros(draws, dtype=np.int64)
    a = (i * datagen.RMAT_A1 + datagen.RMAT_C) % datagen.RMAT_M
    t0, t1, t2 = datagen.RMAT_T
    for lv in range(levels):
        h = a * (lv * datagen.RMAT_A2 + 1) % datagen.RMAT_M % 10000
        q = np.where(h < t0, 0, np.where(h < t1, 1, np.where(h < t2, 2, 3)))
        src |= (q >> 1) << lv
        dst |= (q & 1) << lv
    n = 1 << levels
    hub_dst = (np.arange(1, hub_degree + 1, dtype=np.int64) * 7 + hub) % n
    src = np.concatenate([src, np.full(hub_degree, hub, dtype=np.int64)])
    dst = np.concatenate([dst, hub_dst])
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n
