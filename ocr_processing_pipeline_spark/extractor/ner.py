"""Gazetteer/regex NER span extraction + deterministic entity linking.

Replaces the reference's spaCy NER (apertus_ner_chunk.py:254-263, U4) and
LLM role confirmation (apertus_get_roles.py:72-180, J5/U5) with deterministic
rules over broadcast gazetteers, preserving the reference's *semantics*:

- mention detection: longest-match dictionary scan over token sequences
  (Aho-Corasick-style trie walk in pure Python) against gazetteer surface
  forms; emits (mention, entity_type, char span)
- A5 last-name reduce: single-token PER mentions fuzzy-matching the last
  name of a multi-token mention in the same doc collapse into it
  (apertus_ner_chunk.py:97-119, fuzz.ratio ≥ 85 at :100,:111)
- J1 linking: candidates by blocked key (lowercased last token), scored with
  token_sort_ratio (≥ 85, apertus_ner_chunk.py:174-178 / env FUZZ :28)
- F7 date plausibility: drop person if died > 7300 days before doc date or
  born < 7300 days before doc date; rows with unparseable years PASS
  (apertus_ner_chunk.py:180-201, failure pass-through :191-192)
- F11 URL-prefix guards per entity type (apertus_ner_chunk.py:345,357,369)
- J5 replacement: role keyword present in chunk text must overlap the
  gazetteer row's roles array (deterministic rule join)

Pure Python; Spark wires this into mapInArrow with the gazetteer as a
broadcast variable (pipeline/ner.py).
"""

from __future__ import annotations

from datetime import date, timedelta

from ..functions.fuzzy import (FUZZ_SINGLE_THRESHOLD, FUZZ_THRESHOLD,
                               char_bag, full_process, ratio_presorted,
                               ratio_presorted_bagged, sort_tokens)

DATE_WINDOW_DAYS = 7300  # apertus_ner_chunk.py:186,195

PERSON_URL_PREFIX = "http://hls-dhs-dss.ch/"        # :369
PLACE_URL_PREFIX = "https://ld.admin.ch/"           # :345
ORG_URL_PREFIX = "https://culture.ld.admin.ch/"     # :357


# --- gazetteer index ---------------------------------------------------------

class GazetteerIndex:
    """Trie over normalized token sequences of gazetteer surface forms.

    Surface forms: persons → name, lemma (last name); places/orgs →
    name_de/name_fr/name_it. Longest match wins; matching is
    case-insensitive on full_process-normalized tokens.
    """

    def __init__(self, persons: list[dict], places: list[dict],
                 orgs: list[dict]):
        self.persons = persons
        self.places = places
        self.orgs = orgs
        self._trie: dict = {}
        self.max_len = 1
        for p in persons:
            self._add(p.get("name", ""), "PER")
            self._add(p.get("lemma", ""), "PER")
        for pl in places:
            for key in ("name_de", "name_fr", "name_it"):
                self._add(pl.get(key, ""), "LOC")
        for o in orgs:
            for key in ("name_de", "name_fr", "name_it"):
                self._add(o.get(key, ""), "ORG")
        # blocked candidate index for linking: lowercased last name token.
        # Entries carry the PRE-SORTED normalized surface forms AND their
        # character bags so the fuzzy stage never re-normalizes (or
        # re-counts) a gazetteer name per comparison — the bag feeds
        # ratio_presorted_bagged's decision-exact prune.
        self.person_block: dict[str, list[tuple]] = {}
        for p in persons:
            toks = full_process(p.get("name", "")).split()
            if toks:
                # years parsed ONCE at index build (apertus_ner_chunk.py
                # :185,194 split('.')[0] semantics preserved in _parse_year)
                name_sorted = sort_tokens(p.get("name", ""))
                lemma_sorted = sort_tokens(p.get("lemma", ""))
                self.person_block.setdefault(toks[-1], []).append(
                    (p, name_sorted, lemma_sorted,
                     _parse_year(p.get("birthyear")),
                     _parse_year(p.get("deathyear")),
                     char_bag(name_sorted), char_bag(lemma_sorted)))
        self.place_block: dict[str, list[tuple]] = {}
        for pl in places:
            forms = tuple(sort_tokens(pl.get(k) or "")
                          for k in ("name_de", "name_fr", "name_it"))
            bags = tuple(char_bag(f) for f in forms)
            seen_toks = set()
            for k in ("name_de", "name_fr", "name_it"):
                toks = full_process(pl.get(k, "")).split()
                if toks and toks[-1] not in seen_toks:
                    seen_toks.add(toks[-1])
                    self.place_block.setdefault(toks[-1], []).append(
                        (pl, forms, bags))
        self.org_block: dict[str, list[tuple]] = {}
        for o in orgs:
            forms = tuple(sort_tokens(o.get(k) or "")
                          for k in ("name_de", "name_fr", "name_it"))
            bags = tuple(char_bag(f) for f in forms)
            seen_toks = set()
            for k in ("name_de", "name_fr", "name_it"):
                toks = full_process(o.get(k, "")).split()
                if toks and toks[-1] not in seen_toks:
                    seen_toks.add(toks[-1])
                    self.org_block.setdefault(toks[-1], []).append(
                        (o, forms, bags))

    def _add(self, surface: str, etype: str):
        toks = full_process(surface).split()
        if not toks:
            return
        self.max_len = max(self.max_len, len(toks))
        node = self._trie
        for t in toks:
            node = node.setdefault(t, {})
        node.setdefault("\0", set()).add(etype)

    def scan(self, text: str) -> list[dict]:
        """Longest-match scan; returns mentions with char spans."""
        from .textproc import token_spans
        # lowercase ONCE in C instead of per-token: when lower() preserves
        # the string length every char mapped 1:1, so token spans in the
        # lowered text are identical to spans in the original (and \w/\s
        # classes are case-stable), and tokens come out pre-lowered. The
        # rare length-changing case (e.g. 'İ' → 2 code points) falls back
        # to the exact per-token path. Mention text below always slices
        # the ORIGINAL text by span, so output bytes are unchanged.
        # Final_Sigma guard: str.lower() on the FULL text maps a Greek
        # capital sigma context-sensitively ('ΑΣ.Β'.lower() == 'ασ.β',
        # word-final 'ΑΣ'.lower() == 'ας'), so whole-text lowering can
        # disagree with the per-token normalization the trie keys were
        # built with even though lengths match. Σ (U+03A3) is the only
        # non-locale context-sensitive lowercase mapping in Unicode, so
        # its absence makes the 1:1 argument airtight.
        low = text.lower()
        if len(low) == len(text) and "Σ" not in text:
            toks = token_spans(low)
            norm = [t if t.isalnum() else full_process(t)
                    for t, _, _ in toks]
        else:
            toks = token_spans(text)   # finditer: offsets, no re-search
            # fast-path normalization: single tokens are alnum in the
            # common case, where full_process == lower()
            norm = [t.lower() if t.isalnum() else full_process(t)
                    for t, _, _ in toks]
        mentions = []
        i = 0
        n = len(toks)
        while i < n:
            node = self._trie
            best = None  # (j_exclusive, etypes)
            j = i
            while j < n and j - i < self.max_len and norm[j] in node:
                node = node[norm[j]]
                j += 1
                if "\0" in node:
                    best = (j, node["\0"])
            if best is not None:
                j_end, etypes = best
                mention_text = text[toks[i][1]:toks[j_end - 1][2]]
                for etype in sorted(etypes):
                    mentions.append({
                        "mention": mention_text,
                        "entity_type": etype,
                        "span_start": toks[i][1],
                        "span_end": toks[j_end - 1][2],
                        "n_tokens": j_end - i,
                    })
                i = j_end  # longest match consumes tokens
            else:
                i += 1
        return mentions


# --- A5: last-name reduce ----------------------------------------------------

def reduce_person_mentions(names: list[str]) -> list[str]:
    """Collapse single names into fuzzy-matching full names; sorted set.

    Mirrors apertus_ner_chunk.py:97-119: for each single-token name, if its
    fuzz.ratio against the LAST token of any multi-token name ≥ 85, drop the
    single (the full name subsumes it). Returns sorted unique survivors.
    """
    uniq = sorted(set(names))
    full = [n for n in uniq if len(n.split()) > 1]
    singles = [n for n in uniq if len(n.split()) <= 1]
    # decision-equivalent fast paths (ratio(s, last) >= thr is what we
    # need, not the score): exact normalized match -> ratio 100; the
    # ratio_presorted length upper bound prunes hopeless pairs without
    # running SequenceMatcher. For single tokens full_process(x) is
    # exactly what ratio() compares, so decisions are identical.
    lasts = {full_process(f.split()[-1]) for f in full}
    thr = FUZZ_SINGLE_THRESHOLD
    kept = list(full)
    for s in singles:
        sn = full_process(s)
        subsumed = sn in lasts or any(
            ratio_presorted(sn, ln, min_score=thr) >= thr for ln in lasts)
        if not subsumed:
            kept.append(s)
    return sorted(set(kept))


# --- F7: date plausibility ---------------------------------------------------

def _parse_year(value) -> int | None:
    """Year from '1924', '1924.0', '' — mirrors split('.')[0] at :185,194."""
    if value is None:
        return None
    s = str(value).split(".")[0].strip()
    if len(s) == 4 and s.isdigit():
        return int(s)
    return None


def person_date_plausible(person: dict, doc_date: date | None) -> bool:
    """Pass-through on any parse failure (apertus_ner_chunk.py:191-192)."""
    if doc_date is None:
        return True
    birth = _parse_year(person.get("birthyear"))
    death = _parse_year(person.get("deathyear"))
    window = timedelta(days=DATE_WINDOW_DAYS)
    if death is not None:
        try:
            # Jan-1 anchor for BOTH bounds (datetime(year,1,1) at
            # apertus_ner_chunk.py:186,195)
            if date(death, 1, 1) + window < doc_date:
                return False  # died > 20y before the document
        except ValueError:
            pass
    if birth is not None:
        try:
            if date(birth, 1, 1) + window > doc_date:
                return False  # born < 20y before the document
        except ValueError:
            pass
    return True


# --- J1 + F5/F6/F7/F11 + J5-replacement: linking -----------------------------

_ROLE_HINTS = {
    # role keyword (lowercased) appearing in chunk text → gazetteer role it
    # must overlap with; deterministic stand-in for the LLM role check (J5)
    "bundesrat": "Bundesrat",
    "conseiller": "Bundesrat",
    "jurist": "Jurist",
    "general": "General",
    "direktor": "Direktor",
    "professor": "Professor",
}


def chunk_role_hints(chunk_text: str) -> frozenset:
    chunk_lower = chunk_text.lower()
    return frozenset(role for kw, role in _ROLE_HINTS.items()
                     if kw in chunk_lower)


def _fuzzy_candidates(mention: str, entity_type: str,
                      index: GazetteerIndex):
    """Date/role-independent candidate scoring — the expensive half of
    linking (fuzzy ratios + URL-prefix guard). Deterministic in
    (mention, entity_type) only, hence memoizable with a high hit rate
    even though every document carries a distinct date."""
    toks = full_process(mention).split()
    if not toks:
        return None
    block_key = toks[-1]
    m_sorted = " ".join(sorted(toks))
    m_bag = char_bag(m_sorted)
    if entity_type == "PER":
        scored = []
        for entry in index.person_block.get(block_key, []):
            (c, name_sorted, lemma_sorted, birth, death,
             name_bag, lemma_bag) = entry
            score = ratio_presorted_bagged(m_sorted, name_sorted,
                                           m_bag, name_bag,
                                           min_score=FUZZ_THRESHOLD)
            if len(toks) == 1:
                # single last name: compare against the lemma instead
                score = max(score, ratio_presorted_bagged(
                    m_sorted, lemma_sorted, m_bag, lemma_bag,
                    min_score=FUZZ_THRESHOLD))
            if score < FUZZ_THRESHOLD:
                continue
            if not str(c.get("url", "")).startswith(PERSON_URL_PREFIX):
                continue
            scored.append((score, c, birth, death))
        return ("hasSubject", scored)
    if entity_type == "LOC":
        cands = _multiname_scored(m_sorted, m_bag, index.place_block.get(
            block_key, []), PLACE_URL_PREFIX)
        return ("hasPlace", cands)
    if entity_type == "ORG":
        cands = _multiname_scored(m_sorted, m_bag, index.org_block.get(
            block_key, []), ORG_URL_PREFIX)
        return ("hasSubject", cands)
    return None


def _years_plausible(birth, death, doc_date) -> bool:
    """F7 on precomputed years (parse-failure pass-through preserved)."""
    if doc_date is None:
        return True
    window = timedelta(days=DATE_WINDOW_DAYS)
    if death is not None:
        try:
            if date(death, 1, 1) + window < doc_date:  # Jan-1 anchor, :186
                return False
        except ValueError:
            pass
    if birth is not None:
        try:
            if date(birth, 1, 1) + window > doc_date:
                return False
        except ValueError:
            pass
    return True


def link_single(mention: str, entity_type: str, index: GazetteerIndex,
                doc_date: date | None, hinted_roles: frozenset,
                cand_memo: dict | None = None):
    """Link one (mention, type): returns (predicate, candidate, score) or
    None. ``cand_memo`` caches the fuzzy-scored candidates per
    (mention, type); the per-call date/role filters are dict lookups.
    """
    key = (mention, entity_type)
    if cand_memo is not None and key in cand_memo:
        res = cand_memo[key]
    else:
        res = _fuzzy_candidates(mention, entity_type, index)
        if cand_memo is not None:
            cand_memo[key] = res
    if res is None:
        return None
    predicate, scored = res
    if entity_type == "PER":
        kept = []
        for score, c, birth, death in scored:
            if not _years_plausible(birth, death, doc_date):
                continue
            roles = c.get("roles") or []
            if hinted_roles and roles and not (hinted_roles & set(roles)):
                continue
            kept.append((score, c))
        best = _best(kept)
    else:
        best = _best(scored)
    return None if best is None else (predicate,) + best[::-1]


def link_mentions(mentions: list[dict], index: GazetteerIndex,
                  doc_date: date | None, chunk_text: str,
                  memo: dict | None = None) -> list[dict]:
    """Link mentions to gazetteer rows; returns edge rows.

    Per mention: block on last token → token_sort_ratio ≥ 85 → (PER only)
    date plausibility + role-consistency → URL-prefix guard → best candidate
    by (score desc, identifier asc) — the deterministic analogue of the
    reference's hybrid-search top-k + filters (apertus_ner_chunk.py:134-232).

    ``memo`` (optional dict) caches the fuzzy-scored candidate lists per
    (mention, type) across chunks — the date/role filters re-run per call.
    """
    hinted_roles = chunk_role_hints(chunk_text)
    edges = []
    for m in mentions:
        res = link_single(m["mention"], m["entity_type"], index,
                          doc_date, hinted_roles, cand_memo=memo)
        if res is not None:
            predicate, cand, score = res
            edges.append(_edge(m, predicate, cand, score))
    return edges


def _multiname_scored(m_sorted: str, m_bag: dict, cands: list[tuple],
                      url_prefix: str) -> list:
    scored = []
    for c, forms, bags in cands:
        score = max(ratio_presorted_bagged(m_sorted, f, m_bag, b,
                                           min_score=FUZZ_THRESHOLD)
                    for f, b in zip(forms, bags))
        if score < FUZZ_THRESHOLD:
            continue
        if not str(c.get("url", "")).startswith(url_prefix):
            continue
        scored.append((score, c))
    return scored


def _best(scored: list):
    if not scored:
        return None
    return sorted(
        scored,
        key=lambda sc: (-sc[0], str(sc[1].get("identifier", "")),
                        str(sc[1].get("url", ""))),
    )[0]


def _edge(m: dict, predicate: str, cand: dict, score: int) -> dict:
    return {
        "mention": m["mention"],
        "entity_type": m["entity_type"],
        "span_start": m["span_start"],
        "span_end": m["span_end"],
        "predicate": predicate,
        "matched_url": str(cand.get("url", "")),
        "matched_name": str(cand.get("name")
                            or cand.get("name_de") or ""),
        "fuzzy_score": int(score),
    }


__all__ = ["GazetteerIndex", "reduce_person_mentions",
           "person_date_plausible", "link_mentions", "link_single",
           "chunk_role_hints", "DATE_WINDOW_DAYS"]
