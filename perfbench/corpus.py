"""Seeded legal-shaped corpus generator.

Everything the engine sees in a benchmark run comes from here: parquet
files of `(doc_id long, text string)` rows.  The same seed gives the same
bytes.  Documents look like court opinions so that every text layer does
its real work:

* markup (`<p>`, `<h2>`, `&amp;`) for `clean_text`;
* captions (`Party v. Party`), court names and judge lines;
* sentences with capitals and terminal punctuation, so the recursive
  chunker's sentence repair cuts where it would on real opinions;
* citation strings (`123 F.3d 456`, `347 U.S. 483`, `42 U.S.C. § 1983`);
* a Zipf vocabulary mixed with English function words, so BM25 sees a
  realistic head/tail of document frequencies.

Document lengths are lognormal around a short-opinion size, then scaled so
the corpus holds a fixed number of characters whatever the seed: seeds
change which documents exist, not how much work there is.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

FUNCTION_WORDS = (
    "the", "of", "and", "to", "a", "in", "that", "is", "for", "on", "by",
    "with", "as", "was", "be", "not", "it", "or", "from", "at", "which",
)
LEGAL_WORDS = (
    "court", "plaintiff", "defendant", "appeal", "judgment", "motion",
    "statute", "contract", "evidence", "jury", "trial", "claim", "damages",
    "liability", "negligence", "jurisdiction", "petitioner", "respondent",
    "counsel", "testimony", "verdict", "remand", "affirm", "reverse",
    "summary", "discovery", "injunction", "breach", "warranty", "tort",
    "property", "easement", "tenant", "lease", "employer", "employee",
    "arbitration", "sentence", "conviction", "suppression", "search",
    "warrant", "probable", "cause", "amendment", "constitutional", "due",
    "process", "equal", "protection", "standing", "mootness", "remedy",
    "precedent", "holding", "dicta", "opinion", "dissent", "concurrence",
)
COURTS = (
    "Supreme Court of the United States",
    "United States Court of Appeals for the Ninth Circuit",
    "United States Court of Appeals for the Second Circuit",
    "United States District Court for the Southern District of New York",
    "Supreme Court of California",
    "Court of Appeals of Texas",
    "Supreme Judicial Court of Massachusetts",
)
SURNAMES = (
    "Smith", "Johnson", "Garcia", "Miller", "Davis", "Rodriguez", "Martinez",
    "Hernandez", "Lopez", "Wilson", "Anderson", "Thomas", "Taylor", "Moore",
    "Jackson", "Martin", "Lee", "Thompson", "White", "Harris", "Clark",
)
ENTITIES = ("Acme Corp.", "Smith &amp; Wesson", "State of Ohio", "United States",
            "City of Boston", "Doe Holdings LLC", "Board of Education")
REPORTERS = ("U.S.", "F.3d", "F.2d", "F. Supp.", "S. Ct.", "Cal. 2d")

SYNTHETIC_WORDS = 4000
ZIPF_S = 1.1


def _vocabulary() -> list[str]:
    """Fixed across seeds: legal words plus pronounceable synthetic terms."""
    rng = np.random.default_rng(0)
    sylls = ["ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "no", "pu", "ra",
             "se", "ti", "vo", "zu", "an", "er", "in", "or", "us", "el", "ex"]
    words = list(LEGAL_WORDS)
    seen = set(words) | set(FUNCTION_WORDS)
    while len(words) < len(LEGAL_WORDS) + SYNTHETIC_WORDS:
        w = "".join(rng.choice(sylls, size=int(rng.integers(2, 5))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = np.array(_vocabulary())
_RANKS = np.arange(1, len(VOCAB) + 1, dtype=np.float64)
ZIPF_P = (1.0 / _RANKS**ZIPF_S) / (1.0 / _RANKS**ZIPF_S).sum()


class DocFactory:
    """Draws opinion-shaped documents from one seeded generator."""

    POOL = 1 << 16

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self._pool: list[str] = []
        self._pos = 0

    def _words(self, n: int) -> list[str]:
        """Next `n` words of a pre-drawn Zipf/function-word stream (one
        vectorised draw per POOL words, not one per sentence)."""
        if self._pos + n > len(self._pool):
            r = self.rng
            content = VOCAB[r.choice(len(VOCAB), size=self.POOL, p=ZIPF_P)]
            fw = np.array(FUNCTION_WORDS)[r.integers(0, len(FUNCTION_WORDS), self.POOL)]
            self._pool = np.where(r.random(self.POOL) < 0.4, fw, content).tolist()
            self._pos = 0
        out = self._pool[self._pos : self._pos + n]
        self._pos += n
        return out

    def _citation(self) -> str:
        r = self.rng
        if r.random() < 0.15:
            return f"{int(r.integers(1, 52))} U.S.C. § {int(r.integers(1, 9999))}"
        rep = REPORTERS[int(r.integers(len(REPORTERS)))]
        return f"{int(r.integers(1, 999))} {rep} {int(r.integers(1, 1999))}"

    def _sentence(self) -> str:
        r = self.rng
        n = int(r.integers(8, 28))
        words = self._words(n)
        if r.random() < 0.2:
            words.insert(int(r.integers(1, n)), ENTITIES[int(r.integers(len(ENTITIES)))])
        s = " ".join(words)
        s = s[0].upper() + s[1:]
        if r.random() < 0.25:
            s += f", see {self._citation()}"
        return s + (". " if r.random() < 0.95 else "? ")

    def opinion(self, target_chars: int) -> str:
        r = self.rng
        a, b = r.choice(len(SURNAMES), size=2, replace=False)
        parts = [
            f"<h2>{SURNAMES[a]} v. {SURNAMES[b]}</h2>\n",
            f"<p>{COURTS[int(r.integers(len(COURTS)))]}</p>\n",
            f"<p>Opinion of the Court by Judge {SURNAMES[int(r.integers(len(SURNAMES)))]}.</p>\n\n",
        ]
        size = sum(map(len, parts))
        while size < target_chars:
            para = "<p>" + "".join(self._sentence() for _ in range(int(r.integers(3, 9))))
            para = para.rstrip() + "</p>\n\n"
            parts.append(para)
            size += len(para)
        return "".join(parts)

    def lengths(self, n_docs: int, total_chars: int, median_chars: int) -> list[int]:
        """Lognormal lengths scaled to sum to `total_chars`."""
        raw = self.rng.lognormal(np.log(median_chars), 0.6, n_docs)
        raw = np.clip(raw, median_chars / 5, median_chars * 8)
        return [int(x) for x in raw * (total_chars / raw.sum())]

    def near_duplicate(self, text: str, edit_share: float = 0.01) -> str:
        """A re-fetch with a few words swapped (new id, same opinion)."""
        words = text.split(" ")
        n_edit = max(1, int(len(words) * edit_share))
        for i in self.rng.choice(len(words), size=n_edit, replace=False):
            if "<" not in words[i] and ">" not in words[i]:
                words[i] = str(VOCAB[int(self.rng.integers(len(VOCAB)))])
        return " ".join(words)


def corpus(seed: int, n_docs: int, total_chars: int, median_chars: int,
           dup_share: float = 0.0) -> list[tuple[int, str]]:
    """`n_docs` opinions; `dup_share` of them are exact or near copies
    (half each) of earlier documents under new ids."""
    f = DocFactory(seed)
    n_dup = int(n_docs * dup_share)
    n_orig = n_docs - n_dup
    docs = [(i, f.opinion(n))
            for i, n in enumerate(f.lengths(n_orig, total_chars, median_chars))]
    for j in range(n_dup):
        _, text = docs[int(f.rng.integers(n_orig))]
        if j % 2:
            text = f.near_duplicate(text)
        docs.append((n_orig + j, text))
    order = f.rng.permutation(len(docs))
    return [docs[i] for i in order]


def write_parquet_files(rows: list[tuple[int, str]], out_dir: str, n_files: int) -> None:
    """Split rows into `n_files` files of near-equal text bytes (greedy by
    size) so no single file makes a straggler task."""
    os.makedirs(out_dir, exist_ok=True)
    bins: list[list[tuple[int, str]]] = [[] for _ in range(n_files)]
    load = [0] * n_files
    for row in sorted(rows, key=lambda r: -len(r[1])):
        i = load.index(min(load))
        bins[i].append(row)
        load[i] += len(row[1])
    for i, b in enumerate(bins):
        if not b:
            continue
        b.sort()
        table = pa.Table.from_arrays(
            [pa.array([r[0] for r in b], pa.int64()), pa.array([r[1] for r in b], pa.string())],
            schema=SCHEMA,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{i:03d}.parquet"))
