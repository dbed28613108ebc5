"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. Article and document text is drawn from the
fixture corpus in ``perfbench/data/sf0.01/documents.parquet`` so lengths,
vocabulary and the language mix are those of the catalog's own corpus.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# Share of titles that repeat an earlier title (the dashboard dedups on
# title), of lines that are not valid JSON, of descriptions that clean to
# nothing (null, empty, punctuation only) and of malformed timestamps.
DUP_TITLE_SHARE = 0.15
MALFORMED_LINE_SHARE = 0.01
EMPTY_DESC_SHARE = 0.04
BAD_TS_SHARE = 0.02

# Non-Latin rendering for the corpus's zh documents: the cleaning step
# keeps only [a-zA-Z\s], so these descriptions clean to whitespace and the
# empty-description filter drops them, as it would a real CJK article.
_CJK = "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年"


def corpus() -> list[tuple[str, str, str]]:
    """(text, lang, source) rows of the fixture documents table."""
    t = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"), columns=["text", "lang", "source"])
    return list(zip(*(t.column(c).to_pylist() for c in ("text", "lang", "source"))))


def _render(text: str, lang: str) -> str:
    if lang != "zh":
        return text
    return " ".join("".join(_CJK[(ord(c) * 7 + i) % len(_CJK)] for i, c in enumerate(w[:3])) for w in text.split())


def _ts(rng: random.Random, day: int) -> str:
    return f"2025-11-{day:02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"


class ArticleFactory:
    """GNews-shaped article records (FIXTURES.md sections 1-2), one seeded
    stream per factory. ``lines(n)`` returns the NDJSON lines of one file."""

    def __init__(self, seed: int, tag: str):
        self.rng = random.Random(f"articles:{tag}:{seed}")
        self.docs = corpus()
        self.tag = tag
        self.n = 0
        self.titles: list[str] = []

    def _article(self) -> dict:
        rng = self.rng
        text, lang, source = self.docs[rng.randrange(len(self.docs))]
        words = text.split()
        if self.titles and rng.random() < DUP_TITLE_SHARE:
            title = self.titles[rng.randrange(len(self.titles))]
        else:
            k = rng.randrange(max(1, len(words) - 8))
            title = " ".join(words[k : k + rng.randint(4, 9)]).capitalize()
            self.titles.append(title)
        r = rng.random()
        if r < EMPTY_DESC_SHARE / 3:
            desc = None
        elif r < 2 * EMPTY_DESC_SHARE / 3:
            desc = ""
        elif r < EMPTY_DESC_SHARE:
            desc = "... !!! --"
        else:
            desc = _render(text, lang)
        day = rng.randint(1, 28)
        self.n += 1
        aid = f"{self.tag}-{self.n:08d}"
        return {
            "id": aid,
            "title": title,
            "description": desc,
            "content": (desc or "")[:200] + f"... [{len(text)} chars]",
            "url": f"https://news.example/{source}/{aid}",
            "image": f"https://img.example/{aid}.jpg",
            "publishedAt": "not-a-date" if rng.random() < BAD_TS_SHARE else _ts(rng, day),
            "lang": lang,
            "source": {"id": source, "name": source.upper(), "url": f"https://{source}.example", "country": "us"},
            "fetched_at": f"2025-11-{day:02d}T12:00:00.{rng.randrange(10**6):06d}",
        }

    def lines(self, n: int) -> list[str]:
        out = []
        for _ in range(n):
            line = json.dumps(self._article(), ensure_ascii=False)
            if self.rng.random() < MALFORMED_LINE_SHARE:
                line = line[: len(line) // 2]  # truncated mid-record
            out.append(line)
        return out


def write_article_file(path: str, lines: list[str]) -> None:
    """Write one NDJSON file atomically: a stream watching the directory
    never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def write_backlog(directory: str, seed: int, tag: str, n_files: int, per_file: int) -> int:
    """Pre-land ``n_files`` article files; returns the number of lines."""
    os.makedirs(directory, exist_ok=True)
    fac = ArticleFactory(seed, tag)
    for i in range(n_files):
        write_article_file(os.path.join(directory, f"batch_{i:05d}.json"), fac.lines(per_file))
    return n_files * per_file


class DocFactory:
    """(doc_id, text) documents for the dedup store. Each document splices
    random token windows of the fixture corpus, so distinct documents share
    vocabulary but not shingle sets. A ``twin_share`` of every batch are
    near-copies (a few tokens replaced) of earlier documents."""

    def __init__(self, seed: int, tag: str):
        self.rng = random.Random(f"docs:{tag}:{seed}")
        self.words = [t.split() for t, _, _ in corpus()]
        self.vocab = sorted({w for ws in self.words for w in ws})
        self.next_id = 1
        self.history: list[str] = []

    def fresh(self) -> str:
        rng = self.rng
        toks: list[str] = []
        for _ in range(3):
            ws = self.words[rng.randrange(len(self.words))]
            k = rng.randrange(max(1, len(ws) - 12))
            toks += ws[k : k + rng.randint(8, 16)]
        return " ".join(toks)

    def twin_of(self, text: str) -> str:
        toks = text.split()
        for _ in range(max(1, len(toks) // 25)):
            toks[self.rng.randrange(len(toks))] = self.vocab[self.rng.randrange(len(self.vocab))]
        return " ".join(toks)

    def batch(self, n: int, twin_share: float) -> list[tuple[int, str]]:
        out = []
        for _ in range(n):
            if self.history and self.rng.random() < twin_share:
                text = self.twin_of(self.history[self.rng.randrange(len(self.history))])
            else:
                text = self.fresh()
            out.append((self.next_id, text))
            self.next_id += 1
        self.history += [t for _, t in out]
        return out


def write_docs_file(path: str, rows: list[tuple[int, str]]) -> None:
    table = pa.table(
        {"doc_id": pa.array([r[0] for r in rows], pa.int64()), "text": pa.array([r[1] for r in rows], pa.string())}
    )
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
