"""Deterministic synthetic `pages` corpus (FIXTURES.md §1).

Pure function of (seed, row index) — byte-reproducible. Generation approach
mirrors the reference's template augmentation (scripts/augment_percent.py:37-71,
ner/train.py:121-190 noise classes) without copying data files: product ×
brand × numeric-suffix templates, hash-seeded per row, plus hub-domain skew
to exercise the canonicalization skew path.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

PRODUCTS = [
    "молоко", "кефир", "сливки", "сметана", "творог", "сыр", "йогурт",
    "масло", "хлеб", "вода", "сок", "чай", "кофе", "шоколад", "печенье",
    "паста", "макароны", "рис", "гречка", "напиток",
]
BRANDS = [
    "простоквашино", "домик в деревне", "агуша", "santa", "greenfield",
    "danone", "валио", "барни", "alpro", "milka", "nestle", "эконива",
]
SUFFIXES = [
    "", "1 %", "3,2%", "10%", "0", "2 л", "1 л", "200 г", "6x1л", "2*0.5 л",
    "пять литров", "полтора литра", "пол-литра", "две упаковки",
    "пять процентов", "ноль процентов", "размер 5", "для дома", "без сахара",
    "большой объём", "12 шт", "3×200 мл",
]
ADJECTIVES = ["", "свежее", "ультрапастеризованное", "обезжиренный", "детский", "зеленый"]
# a few hub domains repeated heavily (skew for CC / canonicalization tests)
HUB_DOMAINS = ["hub0.example", "hub1.example"]
LANGS = ["ru", "ru", "ru", "ru", "en", ""]

_EDGE_HTML = [
    "<html><head><title>{t}</title></head><body><p>{b}</p></body></html>",
    "<html><body><div>{t}</div><div>  {b}  </div><!-- c --></body></html>",
    "<html><body><p>{t} &amp; co</p><ul><li>{b}</li><li>{b}</li></ul></body></html>",
    "<html><head><style>.x{{}}</style></head><body><span>{t}</span><br><b>{b}</b></body></html>",
]


def _h(seed: int, i: int, salt: str) -> int:
    d = hashlib.md5(f"{seed}:{i}:{salt}".encode()).digest()
    return int.from_bytes(d[:8], "big")


def page_row(i: int, seed: int = 42, sentences: int = 1) -> dict:
    """One deterministic page: url, warc_ts, html (bytes), text, lang.
    ``sentences`` scales document length (web pages are paragraphs, not
    queries) — each sentence is an independently hash-seeded product phrase."""

    def sentence(j: int) -> str:
        prod = PRODUCTS[_h(seed, i, f"p{j}") % len(PRODUCTS)]
        adj = ADJECTIVES[_h(seed, i, f"a{j}") % len(ADJECTIVES)]
        brand = BRANDS[_h(seed, i, f"b{j}") % len(BRANDS)] if _h(seed, i, f"hb{j}") % 3 else ""
        suf = SUFFIXES[_h(seed, i, f"s{j}") % len(SUFFIXES)]
        parts = [prod] + ([adj] if adj else []) + ([brand] if brand else []) + ([suf] if suf else [])
        return " ".join(parts)

    body = ". ".join(sentence(j) for j in range(max(sentences, 1)))
    prod = PRODUCTS[_h(seed, i, "p0") % len(PRODUCTS)]
    brand = BRANDS[_h(seed, i, "b0") % len(BRANDS)] if _h(seed, i, "hb0") % 3 else ""
    title = f"{prod} {brand}".strip()

    if _h(seed, i, "hub") % 10 < 3:  # 30% of pages land on 2 hub domains
        domain = HUB_DOMAINS[_h(seed, i, "hd") % len(HUB_DOMAINS)]
    else:
        domain = f"site{_h(seed, i, 'd') % 1000}.example"
    url = f"https://{domain}/{i}"

    tpl = _EDGE_HTML[_h(seed, i, "t") % len(_EDGE_HTML)]
    html = tpl.format(t=title, b=body).encode("utf-8")
    ts = datetime(2025, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=i * 37 % 31_536_000)
    lang = LANGS[_h(seed, i, "l") % len(LANGS)]
    return {
        "url": url,
        "warc_ts": ts.replace(tzinfo=None),
        "html": html,
        "text": "",  # populated by the extract stage; kept empty at ingest
        "lang": lang,
    }


def generate_pages(n: int, seed: int = 42, sentences: int = 1) -> list[dict]:
    return [page_row(i, seed, sentences) for i in range(n)]


PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_df(spark, n: int, seed: int = 42, partitions: int | None = None, sentences: int = 1):
    """Distributed generation: the generator runs ON EXECUTORS via a range
    DataFrame + mapInPandas, so fixture creation itself scales (no driver-side
    list for large n)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [page_row(int(i), seed, sentences) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    rng = spark.range(n)
    if partitions:
        rng = rng.repartition(partitions)
    return rng.mapInPandas(gen, schema=PAGES_DDL)
