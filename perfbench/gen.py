"""Seeded inputs for the benchmark: pages, alias dictionary, curation corpus.

Everything here is a pure function of (seed, size) and runs on the driver
before any clock starts. The program under test only ever sees the tables
built from these rows.
"""

from __future__ import annotations

import hashlib
import os

from x5_ner_spark.core.cascade import TYPE_HINTS
from x5_ner_spark.core.textnorm import lex_norm
from x5_ner_spark.operators.text_stats import RU_STOPWORDS
from x5_ner_spark.pipeline import fixtures as FX

# Near-duplicate shares: the midpoint of the 20-40% of a crawl that
# runner.dedup_docs states is near-duplicate. The boilerplate share and the
# Gopher-failure shares (curate_docs) cite no source; they are set so each
# filter and the hub-shingle path see work in every block of 100 documents.
NEAR_COPY_PERCENT = 30      # kg pages that copy an earlier page, one sentence changed
CLUSTER_PERCENT = 30        # curate docs that are edited copies of an earlier doc
BOILERPLATE_PERCENT = 10    # curate docs carrying the shared boilerplate tail
FILLER_ALIASES = 3000       # dictionary aliases that match no mention
BOILERPLATE = (
    "доставка по городу и в пригород на следующий день подробнее на сайте "
    "магазина в разделе оплата и возврат"
)
DOC_ID_STRIDE = 10_000_000  # doc ids of different seeds never overlap


def source_key() -> str:
    """Hash of the benchmark's sources and of every module of the package.
    Prepared inputs and the checkpoint are built with program code
    (fixtures, lex_norm, TYPE_HINTS, write_ctx_checkpoint, ...), so they are
    keyed on all of it: a stale materialization is never reused after any
    of those files changes."""
    h = hashlib.md5()
    here = os.path.dirname(os.path.abspath(__file__))
    package = os.path.dirname(os.path.dirname(os.path.abspath(FX.__file__)))
    for top in (here, package):
        for d, _, names in sorted(os.walk(top)):
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(d, n)
                    h.update(os.path.relpath(path, top).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:10]


def _h(seed: int, i: int, salt: str) -> int:
    return FX._h(seed, i, salt)


def _sentence(seed: int, i: int, j: int) -> str:
    """Sentence ``j`` of ``fixtures.page_row(i, seed)`` (same hash salts)."""
    prod = FX.PRODUCTS[_h(seed, i, f"p{j}") % len(FX.PRODUCTS)]
    adj = FX.ADJECTIVES[_h(seed, i, f"a{j}") % len(FX.ADJECTIVES)]
    brand = FX.BRANDS[_h(seed, i, f"b{j}") % len(FX.BRANDS)] if _h(seed, i, f"hb{j}") % 3 else ""
    suf = FX.SUFFIXES[_h(seed, i, f"s{j}") % len(FX.SUFFIXES)]
    return " ".join(w for w in (prod, adj, brand, suf) if w)


def _page(seed: int, i: int, sentences: int) -> dict:
    row = FX.page_row(i, seed, sentences)
    # page_row's url depends on the row index only; add the seed so inputs
    # of different seeds never share a url
    row["url"] = f"{row['url'].rsplit('/', 1)[0]}/{seed}-{i}"
    return row


def kg_pages(seed: int, n: int, sentences: int, near_copy_percent: int = 0) -> tuple[list[dict], dict]:
    """``n`` pages of ``sentences`` sentences. ``near_copy_percent`` of them
    copy an earlier original page with one sentence replaced. Returns the
    rows and ``{copy_url: original_url}``."""
    rows, copies, originals = [], {}, []
    for i in range(n):
        if originals and _h(seed, i, "copy") % 100 < near_copy_percent:
            j = originals[_h(seed, i, "src") % len(originals)]
            src = _page(seed, j, sentences)
            old = [_sentence(seed, j, k) for k in range(sentences)]
            html = src["html"].decode("utf-8")
            body = ". ".join(old)
            if body not in html:
                raise RuntimeError(f"generator out of sync with fixtures.page_row (row {j})")
            new = list(old)
            new[_h(seed, i, "which") % sentences] = _sentence(seed, i, 0)
            row = _page(seed, i, sentences)
            row["html"] = html.replace(body, ". ".join(new)).encode("utf-8")
            copies[row["url"]] = src["url"]
        else:
            row = _page(seed, i, sentences)
            originals.append(i)
        rows.append(row)
    return rows, copies


def alias_rows(seed: int) -> list[tuple[str, int, str, float]]:
    """Alias dictionary (alias_norm, entity_id, entity_kind, prior): every
    brand and type hint, one-edit spellings of the brands (fuzzy matches),
    aliases shared by several entities (merge edges for canonicalization)
    and thousands of filler aliases that match nothing."""
    surfaces = [(lex_norm(b), "BRAND", 0.9) for b in sorted(FX.BRANDS)]
    surfaces += [(lex_norm(t), "TYPE", 0.8) for t in sorted(TYPE_HINTS)]
    for k, b in enumerate(sorted(FX.BRANDS)):
        b = lex_norm(b)
        if len(b) > 4:
            cut = 1 + _h(seed, k, "typo") % (len(b) - 2)
            surfaces.append((b[:cut] + b[cut + 1:], "BRAND", 0.6))
    for k, p in enumerate(FX.PRODUCTS):
        for m in range(1 + _h(seed, k, "amb") % 3):  # 1-3 entities per product
            surfaces.append((lex_norm(p), "DUP", 0.4 + 0.1 * m))
    letters = "абвгдежзиклмнопрстуфхцчшщэюяabcdefghijklmnopqrstuvwxyz"
    for k in range(FILLER_ALIASES):
        n = 6 + _h(seed, k, "fl") % 8
        surfaces.append((
            "".join(letters[_h(seed, k, f"fc{c}") % len(letters)] for c in range(n)),
            "FILLER", 0.3,
        ))
    base = (seed % 1000) * 100_000
    return [(a, base + eid, kind, prior) for eid, (a, kind, prior) in enumerate(surfaces)]


def _doc_text(seed: int, i: int) -> str:
    words = []
    for j in range(6 + _h(seed, i, "len") % 5):
        words.append(_sentence(seed, i, j))
        words.append(RU_STOPWORDS[_h(seed, i, f"sw{j}") % len(RU_STOPWORDS)])
    return " ".join(words[:-1])


def curate_docs(seed: int, n: int) -> tuple[list[tuple[int, str, float]], list[tuple[int, int]]]:
    """``n`` documents (doc_id, text, n_chars) and the planted near-duplicate
    pairs (copy id, original id). Besides the edited copies, the corpus has a
    shared boilerplate tail on a share of the documents and documents that
    fail each Gopher rule (too short, numeric, repetitive, no stopword)."""
    base = seed * DOC_ID_STRIDE
    rows, planted, originals = [], [], []
    # every block of 100 documents holds each kind in its exact share, so
    # the work per run varies little from seed to seed
    order = list(range(100))
    for i in range(n):
        doc_id = base + i
        if i % 100 == 0:
            order.sort(key=lambda k: _h(seed, i + k, "kind"))
        kind = order[i % 100]
        if originals and kind < CLUSTER_PERCENT:
            j = originals[_h(seed, i, "src") % len(originals)]
            toks = _doc_text(seed, j).split(" ")
            for e in range(1 + _h(seed, i, "edits") % 4):  # 1-4 word edits
                toks[_h(seed, i, f"at{e}") % len(toks)] = FX.PRODUCTS[_h(seed, i, f"w{e}") % len(FX.PRODUCTS)]
            text = " ".join(toks)
            planted.append((doc_id, base + j))
        elif kind < CLUSTER_PERCENT + 3:
            text = _sentence(seed, i, 0).split(" ")[0]                  # too short
        elif kind < CLUSTER_PERCENT + 6:
            text = " ".join(FX.SUFFIXES[1 + _h(seed, i, f"n{j}") % 9] for j in range(8))  # numeric
        elif kind < CLUSTER_PERCENT + 9:
            text = " ".join([_sentence(seed, i, 0)] * 6)                 # repetitive
        elif kind < CLUSTER_PERCENT + 12:
            text = ". ".join(_sentence(seed, i, j) for j in range(6))     # no stopword
        else:
            text = _doc_text(seed, i)
            originals.append(i)
        if (kind * 7 + 3) % 100 < BOILERPLATE_PERCENT:  # spread over every kind
            text = f"{text} {BOILERPLATE}"
        rows.append((doc_id, text, float(len(text))))
    return rows, planted


def ctx_vocab() -> list[str]:
    """WordPiece vocabulary from the fixture lexicon: pieces of at most four
    characters plus single-character coverage."""
    words: set[str] = set()
    for src in (FX.PRODUCTS, FX.BRANDS, FX.ADJECTIVES, FX.SUFFIXES):
        for phrase in src:
            words.update(w for w in phrase.lower().split() if w.isalpha())
    vocab: list[str] = []
    chars: set[str] = set()
    for w in sorted(words):
        vocab += [w[k:k + 4] if k == 0 else "##" + w[k:k + 4] for k in range(0, len(w), 4)]
        chars.update(w)
    vocab += sorted(chars) + ["##" + c for c in sorted(chars)]
    return list(dict.fromkeys(vocab))


def ctx_checkpoint(work: str) -> str:
    """Contextual transformer checkpoint, written once per generator key."""
    from x5_ner_spark.core.ctx_transformer import write_ctx_checkpoint

    path = os.path.join(work, f"ctx_{source_key()}.npz")
    if not os.path.exists(path):
        tmp = path + ".tmp.npz"
        write_ctx_checkpoint(tmp, ctx_vocab(), max_len=160)
        os.replace(tmp, path)
    return path
