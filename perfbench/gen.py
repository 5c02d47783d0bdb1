"""The benchmark's inputs: the documents table and the seeded query
streams. Nothing here touches Spark or the engine; the program only ever
sees what these functions return.

The documents table is the repository's sf0.1 ``documents.parquet``
(5,000 rows of ``doc_id, text, lang, source, n_chars``), copied to
``data/`` so a run reads nothing outside its checkout. ``corpus.load_corpus``
and ``corpus.to_documents`` derive the indexed documents from it exactly as
``bench.py`` does. The seed picks the queries and the upsert edits.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter

import pandas as pd

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def documents_table() -> pd.DataFrame:
    return pd.read_parquet(os.path.join(DATA_DIR, "documents.parquet"))


def hot_words(table: pd.DataFrame) -> list[str]:
    """Content words in at least half of the documents (df ~ N), in
    first-seen order."""
    df = Counter(w for t in table["text"] for w in dict.fromkeys(t.split()))
    return [w for w, n in df.items() if n >= len(table) / 2]


def corpus_rows(table: pd.DataFrame, replicas: int) -> list[dict]:
    """Driver-side twin of ``corpus.load_corpus``: the same
    (repo, path, commit, lang, content) rows its SQL derives, for
    ``testing.corpus_to_documents``. The oracle gate compares an index
    built from the Spark derivation with an oracle built from these, so
    the two derivations are checked against each other too."""
    from spyglass_spark.corpus import LANG_TO_EXT

    rows = []
    for r in range(replicas):
        for doc_id, text, lang, source in zip(table["doc_id"], table["text"],
                                              table["lang"], table["source"]):
            ext = LANG_TO_EXT.get(lang, "txt")
            rows.append({
                "repo": source,
                "path": f"src/{source}/file_{doc_id}_{r}.{ext}",
                "commit": hashlib.sha256(f"{doc_id}:{r}".encode()).hexdigest()[:40],
                "lang": ext,
                "content": text if r == 0 else f"{text} rep{r}",
            })
    return rows


def tag_ids(table: pd.DataFrame) -> dict[tuple[str, str], int]:
    """The ids ``corpus.build_tags_dim`` assigns: dense rank over
    (label, value) of the lens (file extension) and repository tags."""
    from spyglass_spark.corpus import LANG_TO_EXT

    vals = sorted({("lens", LANG_TO_EXT.get(lang, "txt")) for lang in table["lang"]}
                  | {("repository", src) for src in table["source"]})
    return {v: i + 1 for i, v in enumerate(vals)}


class QueryGen:
    """Query templates over three document-frequency bands of the derived
    corpus: hot content words (df ~ N), replica markers ``repN``
    (df = N/R) and title path numbers (df ~ R)."""

    # single-search templates, issued round-robin
    SINGLE = ("hot", "rep", "number", "words2", "words3", "phrase", "tagged",
              "snippet8")

    def __init__(self, table: pd.DataFrame, replicas: int, rng: random.Random):
        self.words = [t.split() for t in table["text"]]
        self.vocab = hot_words(table)
        self.doc_ids = table["doc_id"].tolist()
        self.replicas = replicas
        self.rng = rng
        self.tags = sorted(tag_ids(table).values())

    def _snippet(self, n: int) -> str:
        rng = self.rng
        while True:
            w = self.words[rng.randrange(len(self.words))]
            if len(w) >= n:
                i = rng.randrange(len(w) - n + 1)
                return " ".join(w[i:i + n])

    def make(self, kind: str) -> dict:
        rng = self.rng
        if kind == "hot":
            return {"query": rng.choice(self.vocab)}
        if kind == "rep":
            if self.replicas < 2:  # a single replica has no markers
                return {"query": rng.choice(self.vocab)}
            return {"query": f"rep{rng.randrange(1, self.replicas)}"}
        if kind == "number":
            return {"query": str(rng.choice(self.doc_ids))}
        if kind.startswith("words"):
            return {"query": " ".join(rng.sample(self.vocab, int(kind[len("words"):])))}
        if kind == "phrase":
            return {"query": f'"{self._snippet(2)}"'}
        if kind == "tagged":
            return {"query": rng.choice(self.vocab),
                    "filters": [("tag", rng.choice(self.tags))]}
        if kind.startswith("snippet"):
            return {"query": self._snippet(int(kind[len("snippet"):]))}
        raise ValueError(f"unknown query template {kind!r}")

    def zipf_pools(self, size: int, s: float = 1.0):
        """Per single-search template, ``size`` queries with Zipf
        popularity weights (so popular queries repeat). Callers take the
        template round-robin, which gives every seed the same template
        mix; the seed only picks the words."""
        pools = {kind: [self.make(kind) for _ in range(size)]
                 for kind in self.SINGLE}
        weights = [1.0 / (i + 1) ** s for i in range(size)]
        return pools, weights

    def distinct_batch(self, kinds: tuple[str, ...], size: int,
                       seen: set) -> list[dict]:
        """``size`` queries never issued before in this run (``seen`` holds
        their keys), templates cycling through ``kinds``."""
        out: list[dict] = []
        for _ in range(1000 * size):
            q = self.make(kinds[len(out) % len(kinds)])
            key = query_key(q)
            if key not in seen:
                seen.add(key)
                out.append(q)
                if len(out) == size:
                    return out
        raise ValueError(f"templates {kinds} ran out of distinct queries")


def query_key(q: dict) -> str:
    return repr((q["query"], tuple(q.get("filters", ()))))


def edit_content(content: str, cycle: int, url: str, vocab: list[str]) -> str:
    """A crawler-visible edit: an appended marker plus one word swapped for
    one of ``vocab``, deterministic in (cycle, url)."""
    h = int(hashlib.sha256(f"{cycle}:{url}".encode()).hexdigest()[:8], 16)
    words = content.split()
    if words:
        words[h % len(words)] = vocab[h % len(vocab)]
    return " ".join(words) + f" edit{cycle}"
