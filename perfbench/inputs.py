"""Seeded benchmark inputs: three page corpora, planted re-crawls, queries.

Every corpus is written as ``pages.parquet`` (a directory of part files)
plus ``persons/places/orgs.parquet`` in the layout ``run_pipeline``
expects. Each carries planted re-crawls: pages re-published under a new
url with a small edit, whose dedup component must equal the original's.
The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_processing_pipeline_spark.sources.corpus import (
    PAGES_SCHEMA, make_gazetteers, make_pages)

# Own vocabulary for the entity-dense corpus, so its text does not drift
# when the program's crawl generator changes.
_VOCAB = {
    "de": ("die kommission berät den entwurf zur reform der verwaltung im "
           "kanton während der rat über zölle bahn post und steuern "
           "abstimmt nachdem die gemeinde einen bericht vorgelegt hat").split(),
    "fr": ("la commission examine le projet de réforme de l'administration "
           "du canton pendant que le conseil vote sur les douanes le rail "
           "la poste et les impôts après le rapport de la commune").split(),
    "it": ("la commissione esamina il progetto di riforma "
           "dell'amministrazione del cantone mentre il consiglio vota su "
           "dogane ferrovia posta e imposte dopo il rapporto del "
           "comune").split(),
    "en": ("the commission reviews the draft reform of the cantonal "
           "administration while the council votes on customs rail post "
           "and taxes after the municipality filed its report").split(),
}

_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _typo(rng: random.Random, name: str) -> str:
    """OCR-style doubled character, well inside the fuzzy-link threshold."""
    if len(name) < 8:
        return name
    i = rng.randint(2, len(name) - 3)
    return name[:i] + name[i] + name[i:]


def _entity(rng: random.Random, persons, places, orgs) -> str:
    r = rng.random()
    if r < 0.55:
        p = rng.choice(persons)
        name = p["name"] if rng.random() < 0.7 else p["lemma"]
        return _typo(rng, name) if rng.random() < 0.15 else name
    if r < 0.85:
        return rng.choice(places)[rng.choice(["name_de", "name_fr",
                                              "name_it"])]
    return rng.choice(orgs)["name_de"]


def _article(rng: random.Random, lang: str, gaz) -> str:
    words = _VOCAB[lang]
    paras = []
    for _ in range(rng.randint(4, 7)):
        sents = []
        for _ in range(rng.randint(4, 8)):
            toks = [rng.choice(words) for _ in range(rng.randint(8, 16))]
            if rng.random() < 0.6:           # entity-dense: 3 in 5 sentences
                toks.insert(rng.randint(1, len(toks) - 1),
                            _entity(rng, *gaz))
            toks[0] = toks[0].capitalize()
            sents.append(" ".join(toks) + ".")
        paras.append(" ".join(sents))
    return "\n\n".join(paras)


def _recrawl_html(html: bytes) -> bytes:
    """Small edit: one inserted word in the first paragraph + a changed
    layout comment (the boilerplate a re-publish usually touches)."""
    return (html.replace(b"<p>", b"<p>Aktualisiert ", 1)
            .replace(b"<!-- layout v", b"<!-- layout r", 1))


def _recrawl_row(rng: random.Random, row: dict) -> dict:
    copy = dict(row)
    copy["url"] = row["url"].replace("/doc/", "/recrawl/")
    copy["warc_ts"] = row["warc_ts"] + timedelta(days=rng.randint(1, 60))
    if row["html"]:
        copy["html"] = _recrawl_html(row["html"])
    else:
        copy["text"] = "Aktualisiert " + row["text"]
    return copy


def _plant_recrawls(rng: random.Random, rows: list[dict], share: float,
                    eligible) -> list[tuple[str, str]]:
    """Append re-crawls of a seeded ``share`` of eligible rows (in place);
    returns the (original url, re-crawl url) pairs."""
    pool = [r for r in rows if eligible(r)]
    picked = rng.sample(pool, max(1, round(share * len(rows))))
    copies = [_recrawl_row(rng, r) for r in picked]
    rows.extend(copies)
    rng.shuffle(rows)
    return [(r["url"], c["url"]) for r, c in zip(picked, copies)]


def _long_html(row: dict) -> bool:
    # well-formed html with a long main text: a one-word edit keeps the
    # 3-gram Jaccard far above the 0.8 dedup threshold
    html = row["html"]
    return (html.startswith(b"<!DOCTYPE") and html.endswith(b"</html>")
            and html.count(b"<p>") >= 4)


def _write(out_dir: str, rows: list[dict], gaz, shards: int) -> dict:
    pages_dir = os.path.join(out_dir, "pages.parquet")
    os.makedirs(pages_dir, exist_ok=True)
    per = -(-len(rows) // shards)
    for s in range(shards):
        part = rows[s * per:(s + 1) * per]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema=PAGES_SCHEMA),
                           os.path.join(pages_dir, f"part-{s:05d}.parquet"))
    for name, data in zip(("persons", "places", "orgs"), gaz):
        pq.write_table(pa.Table.from_pylist(data),
                       os.path.join(out_dir, f"{name}.parquet"))
    return {"pages": pages_dir, "gazetteers": out_dir}


class Corpus:
    """A generated corpus: paths, its rows (the oracle's input) and the
    planted re-crawl pairs."""

    def __init__(self, out_dir: str, rows: list[dict], gaz,
                 planted: list[tuple[str, str]], shards: int):
        self.paths = _write(out_dir, rows, gaz, shards)
        self.rows = rows
        self.planted = planted

    @property
    def n_pages(self) -> int:
        return len(self.rows)


def crawl(out_dir: str, seed: int, n_pages: int, recrawl_share: float,
          shards: int = 4) -> Corpus:
    """The crawl generator's default mix (~95% html, 3% PDF-ish, 1.5%
    malformed) and its 900-entry gazetteers, plus planted re-crawls."""
    rows, gaz = make_pages(n_pages, seed=seed,
                           gazetteers=make_gazetteers(random.Random(seed + 1)))
    planted = _plant_recrawls(random.Random(seed + 2), rows, recrawl_share,
                              _long_html)
    return Corpus(out_dir, rows, gaz, planted, shards)


def entity_dense(out_dir: str, seed: int, n_docs: int, articles: int,
                 recrawl_share: float, shards: int = 4) -> Corpus:
    """Long pre-extracted text (empty html), several articles per doc,
    gazetteers 10x the crawl's; ~1% empty records."""
    rng = random.Random(seed)
    gaz = make_gazetteers(random.Random(seed + 1), n_persons=5000,
                          n_places=3000, n_orgs=1000)
    rows = []
    for i in range(n_docs):
        lang = rng.choice(sorted(_VOCAB))
        empty = rng.random() < 0.01
        text = "" if empty else "\n\n".join(
            _article(rng, lang, gaz) for _ in range(articles))
        rows.append({
            "url": f"https://dense.example.net/{lang}/doc/{i:08d}",
            "warc_ts": _T0 + timedelta(seconds=rng.randint(0, 365 * 86400)),
            "html": b"", "text": text, "lang": lang})
    planted = _plant_recrawls(random.Random(seed + 2), rows, recrawl_share,
                              lambda r: bool(r["text"]))
    return Corpus(out_dir, rows, gaz, planted, shards)


def make_queries(texts: list[str], seed: int, n: int) -> list[list[str]]:
    """``n`` seeded queries of 1-3 terms drawn from corpus text, so every
    query has hits. Terms are lowercase alphabetic whitespace tokens, the
    form the search operators match on."""
    rng = random.Random(seed)
    vocab = sorted({t for text in texts for t in text.lower().split()
                    if t.isalpha() and len(t) >= 4})
    return [rng.sample(vocab, rng.randint(1, 3)) for _ in range(n)]
