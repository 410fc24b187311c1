"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs, and the sizes are fixed per size class so that runs
with different seeds do the same amount of work on differently shaped data.
The engine only ever sees the generated tables.
"""

from __future__ import annotations

import hashlib
import inspect

import numpy as np
import pandas as pd

from supercrawler_spark import fixtures

WEB_COLUMNS = fixtures.WEB_PAGES_COLUMNS
ALLOW_ALL_ROBOTS = b"User-agent: *\nDisallow:\n"
STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "it")

# Workload sizes. "full" is what the benchmark measures; "smoke" is the
# end-to-end size the benchmark's own tests run, correctness gates included.
SIZES = {
    "crawl_expand": {
        "full": {"hosts": 64, "budget": 1000, "cycles": 2, "fanout": 10,
                 "filler_words": 120},
        "smoke": {"hosts": 4, "budget": 40, "cycles": 2, "fanout": 4,
                  "filler_words": 10},
    },
    "crawl_backlog": {
        "full": {"frontier": 10_000, "hosts": 64, "budget": 500,
                 "cycles": 1, "links": 8},
        "smoke": {"frontier": 1_000, "hosts": 8, "budget": 100,
                  "cycles": 1, "links": 4},
    },
    "crawl_mixed": {
        "full": {"hosts": 200, "pages_per_host": 6, "budget": 48,
                 "per_host_cap": 2, "cycles": 3},
        "smoke": {"hosts": 12, "pages_per_host": 4, "budget": 8,
                  "per_host_cap": 2, "cycles": 2},
    },
    "corpus_dedup": {
        "full": {"docs": 4_000, "tokens": 60, "vocab": 4000},
        "smoke": {"docs": 300, "tokens": 30, "vocab": 500},
    },
}


def _rng(seed: int, name: str) -> np.random.Generator:
    """Independent stream per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _html(links: list[str], filler: str = "") -> bytes:
    return fixtures._html(links, f"<p>{filler}</p>" if filler else "")


def _robots_pages(hosts: list[str]) -> list[dict]:
    return [fixtures._page(f"http://{h}/robots.txt", h, 200, "text/plain",
                           body=ALLOW_ALL_ROBOTS) for h in hosts]


def _web_frame(pages: list[dict]) -> pd.DataFrame:
    web = pd.DataFrame(pages, columns=WEB_COLUMNS)
    web["status_code"] = web["status_code"].astype("int32")
    return web


def crawl_expand(seed: int, hosts: int, budget: int, cycles: int,
                 fanout: int, filler_words: int) -> dict:
    """Link-dense web laid out as a fan-out tree in page-id order: page i
    links to its ``fanout`` children ``budget + i*fanout + j`` (new links),
    to its parent and to a random already-numbered page (seen links), and
    repeats its first child once (an in-page duplicate). Under FIFO order
    the crawl pops pages in id order, so the run keeps discovering new
    links in every cycle. Pages are spread over ``hosts`` hosts at random;
    every host serves an allow-all robots.txt. The web serves every page a
    crawl of ``cycles + 1`` cycles can pop."""
    rng = _rng(seed, "crawl_expand")
    n_pages = budget * (cycles + 1)
    n_links = budget + n_pages * fanout
    host_names = [f"x{seed % 997}-{h}.example" for h in range(hosts)]
    host_of = rng.integers(0, hosts, size=n_links)
    url = [f"http://{host_names[host_of[i]]}/p{i}.html" for i in range(n_links)]
    vocab = np.array([f"w{i:04d}" for i in range(2048)])
    fill = vocab[rng.integers(0, len(vocab), size=(n_pages, filler_words))]
    back = rng.integers(0, np.maximum(np.arange(n_pages), 1))
    pages = _robots_pages(host_names)
    for i in range(n_pages):
        kids = [url[budget + i * fanout + j] for j in range(fanout)]
        parent = (i - budget) // fanout if i >= budget else i
        links = kids + [url[parent], url[back[i]], kids[0]]
        pages.append(fixtures._page(url[i], host_names[host_of[i]], 200,
                                    "text/html",
                                    body=_html(links, " ".join(fill[i]))))
    return {"web": _web_frame(pages), "seeds": url[:budget]}


def crawl_backlog(seed: int, frontier: int, hosts: int, links: int) -> dict:
    """A due backlog of ``frontier`` URLs plus a web that serves every one
    of them. Each page links to ``links`` random backlog URLs (already
    seen); one page in eight also links to one of ``frontier // 50`` extra
    pages outside the backlog, which the web serves too. Bodies carry links
    only, so the parse is light."""
    rng = _rng(seed, "crawl_backlog")
    n_extra = max(frontier // 50, 1)
    n = frontier + n_extra
    host_names = [f"b{seed % 997}-{h}.example" for h in range(hosts)]
    host_of = rng.integers(0, hosts, size=n)
    url = [f"http://{host_names[host_of[i]]}/d{i}" for i in range(n)]
    targets = rng.integers(0, frontier, size=(n, links))
    extra = np.where(rng.random(n) < 0.125,
                     frontier + rng.integers(0, n_extra, size=n), -1)
    pages = _robots_pages(host_names)
    for i in range(n):
        out = [url[t] for t in targets[i]]
        if extra[i] >= 0:
            out.append(url[extra[i]])
        pages.append(fixtures._page(url[i], host_names[host_of[i]], 200,
                                    "text/html", body=_html(out)))
    return {"web": _web_frame(pages), "seeds": url[:frontier]}


def crawl_mixed(seed: int, hosts: int, pages_per_host: int) -> dict:
    """The full behaviour fixture (robots 200/404/410/500/600 and
    Disallow, sitemap indexes incl. gzip, redirect chains, 404s, dead
    links, image leaves). The seed picks which hosts' entry pages are
    seeded and in which order; every host stays reachable through the
    fixture's cross-host links."""
    seeds_pdf, web, _ = fixtures.make_web_fixture(
        n_hosts=hosts, pages_per_host=pages_per_host, n_images=8, seed=seed)
    rng = _rng(seed, "crawl_mixed")
    entry = list(seeds_pdf["url"])
    keep = max(2, (len(entry) * 3) // 4)
    chosen = [entry[i] for i in rng.permutation(len(entry))[:keep]]
    return {"web": web, "seeds": chosen}


def corpus_dedup(seed: int, docs: int, tokens: int, vocab: int) -> dict:
    """Text corpus with planted duplicates: 10% exact copies, 5% copies
    differing only in case and whitespace (fingerprint duplicates), 10%
    near copies with three tokens replaced; the rest are distinct
    documents. ASCII only, so the JVM and Python text
    normalisations agree. Returns the corpus and the planted source of
    every copy."""
    rng = _rng(seed, "corpus_dedup")
    words = np.array([f"t{i}" for i in range(vocab)] + list(STOPWORDS))
    # uniform content words with one stopword in six: unrelated documents
    # stay far apart in SimHash space, so near pairs come from the plants
    weights = np.full(len(words), 5.0 / (6 * vocab))
    weights[vocab:] = 1.0 / (6 * len(STOPWORDS))
    n_exact, n_fmt, n_near = docs // 10, docs // 20, docs // 10
    n_base = docs - n_exact - n_fmt - n_near
    base = rng.choice(len(words), size=(n_base, tokens), p=weights)
    texts = [" ".join(words[row]).capitalize() + "." for row in base]
    kinds = ["base"] * n_base
    source = [-1] * n_base
    for kind, n in (("exact", n_exact), ("fmt", n_fmt), ("near", n_near)):
        for src in rng.integers(0, n_base, size=n):
            src = int(src)
            if kind == "exact":
                text = texts[src]
            elif kind == "fmt":
                text = "  " + texts[src].upper().replace(" ", " \n ") + " "
            else:
                row = base[src].copy()
                pos = rng.choice(tokens, size=3, replace=False)
                row[pos] = rng.integers(0, len(words), size=3)
                text = " ".join(words[row]).capitalize() + "."
            texts.append(text)
            kinds.append(kind)
            source.append(src)
    order = rng.permutation(docs)
    corpus = pd.DataFrame({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": [texts[i] for i in order],
    })
    new_id = np.empty(docs, dtype=np.int64)
    new_id[order] = np.arange(docs)
    planted = pd.DataFrame({
        "doc_id": np.arange(docs, dtype=np.int64),
        "kind": [kinds[i] for i in order],
        "source_id": [int(new_id[source[i]]) if source[i] >= 0 else -1
                      for i in order],
    })
    return {"corpus": corpus, "planted": planted}


GENERATORS = {
    "crawl_expand": crawl_expand,
    "crawl_backlog": crawl_backlog,
    "crawl_mixed": crawl_mixed,
    "corpus_dedup": corpus_dedup,
}


def generate(workload: str, seed: int, size: str) -> tuple[dict, dict]:
    """(inputs, size parameters) of one workload at one size class. The
    size parameters also configure the crawl (budget, cycles); each
    generator takes only those that shape its inputs."""
    params = SIZES[workload][size]
    gen = GENERATORS[workload]
    names = list(inspect.signature(gen).parameters)[1:]
    return gen(seed, **{k: params[k] for k in names}), params
