"""Header canonicalization engine (H1-H8, SURVEY.md §2.6).

Turns messy raw header strings (multi-line Spanish, units in parens,
regulatory references, merged-cell debris) into stable SNAKE_CASE column
identifiers, with a persistent sha256-keyed catalog so identical headers
resolve to the same canonical name across runs.

This is metadata-scale work (≤ ~100 strings per workbook): pure Python on
the driver, run eagerly BEFORE Spark plan construction — it determines the
plan's schema; the data path never sees it. Conformance is pinned against
the reference's 100-entry golden catalog
(/root/reference/data/processed/campos_hom_data.json) by tests.

The domain vocabulary lives in ``header_vocab.json`` — it is config, not
code. Behavior derived from the reference rules engine
(/root/reference/src/header_standarizer_ruler.py:45-411), re-implemented;
see the vocab file for the one deliberate quirk reproduced from it.
"""

from __future__ import annotations

import hashlib
import json
import re
import unicodedata
from pathlib import Path

_VOCAB_FILE = Path(__file__).with_name("header_vocab.json")
_UNIT_RE = re.compile(r"\(?\b([a-zA-Z]+\d*(?:/[a-zA-Z]+\d*)+)\b\)?")

HASH_LEN = 12
MAX_TERMS = 10
MIN_NAME_LEN = 3


def ascii_fold(text: str) -> str:
    """Accent strip via NFD decomposition (stdlib; no external deps)."""
    return "".join(
        ch for ch in unicodedata.normalize("NFD", text) if not unicodedata.combining(ch)
    )


def _load_vocab() -> dict:
    with open(_VOCAB_FILE, encoding="utf-8") as f:
        return json.load(f)


class HeaderCatalog:
    """The persistent header catalog both standardizers share (this rules
    engine and ``llm_headers.LLMHeaderStandardizer``): canonical name ->
    {"original_names": [...], "hashes": [...]}, keyed for lookup by the
    sha256[:12] of the raw header, so the two engines are drop-in
    alternatives over one JSON file. A miss admits the generated name,
    suffixed ``_1, _2, …`` on collision, and saves the file when one is
    configured."""

    def __init__(self, catalog_file: str | Path | None = None):
        self.catalog_file = Path(catalog_file) if catalog_file else None
        self.catalog: dict[str, dict] = {}
        self._hash_index: dict[str, str] = {}
        if self.catalog_file is not None and self.catalog_file.exists():
            self.load_catalog(self.catalog_file)

    # -- persistence (F4 format; reads both old and new shapes) -----------

    def load_catalog(self, path: str | Path) -> None:
        with open(path, encoding="utf-8") as f:
            raw = json.load(f)
        self.catalog = {}
        for std, info in raw.items():
            originals = info.get("original_names", info.get("default", []))
            hashes = info.get("hashes", info.get("hash", []))
            if isinstance(originals, str):
                originals = [originals]
            if isinstance(hashes, str):
                hashes = [hashes]
            self.catalog[std] = {"original_names": list(originals), "hashes": list(hashes)}
        self._hash_index = {
            h: std for std, info in self.catalog.items() for h in info["hashes"]
        }

    def save_catalog(self, path: str | Path | None = None) -> None:
        target = Path(path) if path else self.catalog_file
        if target is None:
            raise ValueError("no catalog file configured")
        with open(target, "w", encoding="utf-8") as f:
            json.dump(self.catalog, f, indent=2, ensure_ascii=False)

    # -- H7: hash-cache lookup and collision-suffixed admission -----------

    @staticmethod
    def header_hash(text: str) -> str:
        return hashlib.sha256(text.encode("utf-8")).hexdigest()[:HASH_LEN]

    def lookup(self, original: str) -> str | None:
        """The cached canonical name of ``original``, or None."""
        return self._hash_index.get(self.header_hash(original))

    def _admit(self, original: str, generated: str) -> str:
        """Collision-suffix ``generated`` and record it in the catalog."""
        base, name, n = generated, generated, 1
        while name in self.catalog:
            name = f"{base}_{n}"
            n += 1
        h = self.header_hash(original)
        self.catalog[name] = {"original_names": [original], "hashes": [h]}
        self._hash_index[h] = name
        return name

    def _cached(self, original: str, generate) -> str:
        """Cache hit, else admit ``generate(original)`` and save."""
        hit = self.lookup(original)
        if hit is not None:
            return hit
        name = self._admit(original, generate(original))
        if self.catalog_file is not None:
            self.save_catalog()
        return name

    def catalog_rows(self) -> list[tuple[str, str, str]]:
        """K6: explode the catalog to (standard, original, hash) rows for
        audit export."""
        return [
            (std, orig, h)
            for std, info in self.catalog.items()
            for orig, h in zip(info["original_names"], info["hashes"])
        ]


class HeaderCanonicalizer(HeaderCatalog):
    """Rule-driven canonical-name generator over the shared catalog."""

    def __init__(self, catalog_file: str | Path | None = None):
        v = _load_vocab()
        self.priority_terms = set(v["priority_terms"])
        # fallback unit scan walks the list in declaration order — when a
        # header contains several plausible units (e.g. "kg/100 km" has
        # both kg and km) the earlier one wins; declaration order is what
        # reproduces the golden catalog
        self.measure_units = list(v["measure_units"])
        self.special_abbreviations = [tuple(p) for p in v["special_abbreviations"]]
        self.word_abbreviations = dict(v["word_abbreviations"])
        self.remove_patterns = [re.compile(p) for p in v["remove_patterns"]]
        self.stopwords = set(v["stopwords"])
        super().__init__(catalog_file)

    # -- H1-H6: the name generator ----------------------------------------

    def normalize(self, text: str) -> str:
        """H1: lowercase, strip noise patterns, fold accents, collapse ws."""
        out = text.lower()
        for pat in self.remove_patterns:
            out = pat.sub(" ", out)
        out = ascii_fold(out)
        return " ".join(out.split())

    def extract_unit(self, original: str) -> str | None:
        """H3: measure unit from the RAW header — slash pattern first
        (g/km → gkm), then whole-word scan over the known unit list."""
        m = _UNIT_RE.search(original)
        if m:
            return m.group(1).lower().replace("/", "")
        low = original.lower()
        for unit in self.measure_units:
            if re.search(rf"\b{unit}\b", low):
                return unit
        return None

    def abbreviate(self, text: str) -> str:
        """H2: phrase-level then word-level domain abbreviation."""
        for phrase, repl in self.special_abbreviations:
            text = text.replace(phrase, repl)
        return " ".join(self.word_abbreviations.get(w, w) for w in text.split())

    def key_terms(self, text: str, max_terms: int = MAX_TERMS) -> list[str]:
        """H4: priority terms first (order of appearance), then regular
        non-stopword terms (len > 1), order-preserving dedupe, capped."""
        words = text.split()
        priority: list[str] = []
        regular: list[str] = []
        for w in words:
            if w in self.priority_terms:
                if w not in priority:
                    priority.append(w)
            elif w not in self.stopwords and len(w) > 1 and w not in regular:
                regular.append(w)
        return (priority + regular)[:max_terms]

    @staticmethod
    def to_snake(words: list[str]) -> str:
        """H5: ordered-dedupe underscore join, sanitize, collapse, strip."""
        snake = "_".join(dict.fromkeys(words))
        snake = re.sub(r"[^a-z0-9_]", "_", snake)
        snake = re.sub(r"_+", "_", snake)
        return snake.strip("_")

    def canonical_name(self, original: str) -> str:
        """H6: the full generator — normalize, pull the unit aside, apply
        abbreviations, pick key terms, re-append the unit, snake-case,
        hash fallback for degenerate names. Uppercase result."""
        normalized = self.normalize(original)
        unit = self.extract_unit(original)
        if unit:
            normalized = _UNIT_RE.sub("", normalized)
        abbreviated = self.abbreviate(normalized)
        max_terms = min(len(abbreviated.split()), MAX_TERMS) if unit else MAX_TERMS
        terms = self.key_terms(abbreviated, max_terms)
        if unit:
            terms.append(unit)
        name = self.to_snake(terms)
        if len(name) < MIN_NAME_LEN:
            name = f"col_{self.header_hash(original)[:8]}"
        return name.upper()

    # -- H7/H8: cached standardization + batch ---------------------------

    def standardize(self, original: str) -> str:
        """H7: hash-cache lookup; on miss generate, suffix ``_1, _2, …`` on
        name collision, record in the catalog."""
        return self._cached(original, self.canonical_name)

    def standardize_all(self, headers: list[str]) -> dict[str, str]:
        """H8: fold the cache-aware standardizer over a header list."""
        return {h: self.standardize(h) for h in headers}
