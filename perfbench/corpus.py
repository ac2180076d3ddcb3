"""Seeded synthetic page corpus with golden cluster labels.

The benchmark owns its inputs: every text, url and arrival batch is a pure
function of ``seed`` (string-seeded ``random.Random`` streams, identical
across processes and platforms), so two runs with one seed see
byte-identical pages, and a new seed changes texts and urls, not just row
order. The shape follows ``fuzzycat_spark.sources.synth``: 4-doc families
whose variants carry one distortion kind each, plus hot-key spam.

``dupdense``: every family is a duplicate family over a 256-word
vocabulary (original + exact/boilerplate/truncate/reorder/edit/unicode
variants; ``numedit`` and ``unique`` variants are their own clusters),
plus ``n_spam`` near-empty pages in 3 giant exact-duplicate clusters.

Golden labels (``url``, ``true_cluster``, ``kind``) are a separate table
and are never passed to the program under test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

import pandas as pd

PER_FAMILY = 4

_A = ["ba", "co", "de", "fi", "gu", "ha", "jo", "ka", "lu", "me", "ni", "po", "qua", "re", "si", "tu"]
_B = ["lon", "mar", "nex", "per", "qit", "ros", "sun", "tam", "ver", "wix", "yel", "zor", "dal", "fen", "gor", "hul"]
SMALL_VOCAB = [a + b for a in _A for b in _B]  # 256 words

_HEADERS = ["home about contact news", "menu search login register", "skip to main content"]
_FOOTERS = ["privacy terms copyright", "all rights reserved sitemap", "follow us newsletter"]
_LANGS = ["en", "en", "en", "en", "en", "en", "en", "de", "fr", "es"]

DUP_KINDS = ("original", "exact", "boilerplate", "truncate", "reorder", "edit", "unicode")
# dupdense variant kinds (weights by repetition), as in sources.synth
DENSE_KINDS = ["exact", "exact", "boilerplate", "boilerplate", "truncate", "reorder",
               "edit", "unicode", "numedit", "unique"]

_UNICODE = str.maketrans("aeiou", "àéîöü")

_HTML_PRE = '<html><head><meta charset="utf-8"><title>'
_HTML_MID = "</title></head><body><nav>site navigation menu</nav><main>"
_HTML_POST = "</main><footer>generated page</footer></body></html>"


def _rng(seed: int, *key) -> random.Random:
    return random.Random("/".join(str(k) for k in (seed, *key)))


def _words(r: random.Random, n: int) -> list[str]:
    return r.choices(SMALL_VOCAB, k=n)


def _shuffled(seed: int, key: str, items: list) -> list:
    items = list(items)
    _rng(seed, key).shuffle(items)
    return items


def _variant(r: random.Random, kind: str, base: list[str], doc_id: int) -> list[str]:
    """Token list of one distortion kind of a family base text."""
    n = len(base)
    if kind == "truncate":  # 60-90 % prefix: a containment duplicate
        return base[: max(5, n * r.randrange(60, 91) // 100)]
    if kind == "reorder":  # rotation by 1-5 tokens
        k = r.randrange(1, 6)
        return base[k:] + base[:k]
    if kind == "edit":  # ~5 % token churn
        return [r.choice(SMALL_VOCAB) if r.randrange(20) == 0 else w for w in base]
    if kind == "numedit":  # every 4th word a doc-specific number: not a duplicate
        return [str((doc_id * 7 + j + r.randrange(1000)) % 1000) if j % 4 == 3 else w
                for j, w in enumerate(base)]
    return base


def _text(r: random.Random, kind: str, toks: list[str]) -> str:
    body = " ".join(toks)
    if kind == "boilerplate":
        return f"{r.choice(_HEADERS)} {body} {r.choice(_FOOTERS)}"
    if kind == "unicode":
        return body.translate(_UNICODE)
    return body


def _frames(seed: int, rows: list[tuple[int, str, int, str]]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(pages, labels) from (doc_id, text, true_cluster, kind) rows."""
    urls, ts, html, langs = [], [], [], []
    t0 = dt.datetime(2023, 11, 14, tzinfo=dt.timezone.utc)
    for doc_id, text, _, _ in rows:
        r = _rng(seed, "doc", doc_id)
        path = hashlib.blake2b(f"{seed}/{doc_id}".encode(), digest_size=8).hexdigest()
        urls.append(f"https://site{r.randrange(100)}.example/{path}/{doc_id}")
        ts.append(t0 + dt.timedelta(seconds=r.randrange(86400 * 30)))
        title = " ".join(text.split(" ")[:5])
        html.append(f"{_HTML_PRE}{title}{_HTML_MID}{text}{_HTML_POST}".encode())
        langs.append(r.choice(_LANGS))
    pages = pd.DataFrame({
        "url": urls,
        "warc_ts": pd.to_datetime(ts),
        "html": html,
        "text": [row[1] for row in rows],
        "lang": langs,
    })
    labels = pd.DataFrame({
        "url": urls,
        "true_cluster": [row[2] for row in rows],
        "kind": [row[3] for row in rows],
    })
    return pages, labels


def dupdense(seed: int, n_families: int, n_spam: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Duplicate-dense web corpus: n_families * 4 + n_spam pages.

    Every seed gets the same multiset of base-text lengths (30-169 tokens)
    and of variant kinds, dealt out in a seeded order, so the work per run
    does not drift with the seed; the words, the distortions and the urls
    do change."""
    lengths = _shuffled(seed, "lengths", [30 + i * 140 // n_families for i in range(n_families)])
    n_variants = (PER_FAMILY - 1) * n_families
    kinds = _shuffled(seed, "kinds", [DENSE_KINDS[i % len(DENSE_KINDS)] for i in range(n_variants)])
    rows = []
    for fid in range(n_families):
        r = _rng(seed, "family", fid)
        base = _words(r, lengths[fid])
        for vidx in range(PER_FAMILY):
            doc_id = fid * PER_FAMILY + vidx
            kind = "original" if vidx == 0 else kinds[fid * (PER_FAMILY - 1) + vidx - 1]
            toks = _words(r, len(base)) if kind == "unique" else _variant(r, kind, base, doc_id)
            cluster = fid if kind in DUP_KINDS else n_families + doc_id
            rows.append((doc_id, _text(r, kind, toks), cluster, kind))
    # hot-key spam: one of 3 near-empty texts -> 3 giant exact-duplicate
    # clusters (labels -1, -2, -3)
    first = n_families * PER_FAMILY
    for i in range(n_spam):
        rows.append((first + i, f"welcome to the home page {_FOOTERS[i % 3]}", -1 - i % 3, "spam"))
    return _frames(seed, rows)


def arrival_batches(seed: int, n_pages: int, n_batches: int) -> list[int]:
    """Seeded arrival batch of each page, dealt from a seeded shuffle so
    batches are equal in size and families straddle batches."""
    batch = [0] * n_pages
    for pos, i in enumerate(_shuffled(seed, "arrival", range(n_pages))):
        batch[i] = pos % n_batches
    return batch
