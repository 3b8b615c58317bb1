"""Seeded input generators for the benchmark.

Every input is a pure function of its arguments: the same seed and size
give the same inputs. Nothing here starts Spark.

- ``ListingUniverse`` produces weekly listing snapshots with the paper's
  simulation protocol (FIXTURES.md §1): each week about 80% of the
  contracts are present, about 10% of the present ones change price and
  a few new contracts appear.
- ``documents`` builds the curation corpus, shaped like the repository's
  test-data ``documents`` table, plus rows that C4 cleaning and exact
  dedup must drop.
"""

from __future__ import annotations

import datetime as dt
import random

import numpy as np
import pyarrow as pa

from manifold_spark.sources.fixtures import make_listing, write_week

PRESENT_SHARE = 0.8
PRICE_CHANGE_SHARE = 0.1
NEW_CONTRACT_SHARE = 0.01
FIRST_WEEK = dt.date(2024, 1, 1)


class ListingUniverse:
    """A growing set of contracts and the weekly snapshots drawn from it."""

    def __init__(self, n_contracts: int, seed: int):
        self._rng = random.Random(seed)
        self._next_id = 0
        self._listings: list[dict] = []
        self.week = FIRST_WEEK
        self._add(n_contracts)

    def _add(self, n: int) -> None:
        for _ in range(n):
            self._listings.append(make_listing(self._rng, f"C{self._next_id:07d}"))
            self._next_id += 1

    def next_week(self, raw_root: str) -> tuple[str, int]:
        """Write the next weekly snapshot; return its date and row count."""
        rng = self._rng
        self._add(max(1, int(len(self._listings) * NEW_CONTRACT_SHARE)))
        present = [row for row in self._listings if rng.random() < PRESENT_SHARE]
        for row in present:
            price = row["PriceCurrencyFormated"]
            if price is not None and rng.random() < PRICE_CHANGE_SHARE:
                row["PriceCurrencyFormated"] = round(price * rng.uniform(0.9, 1.1), 2)
        date = self.week.isoformat()
        write_week(raw_root, self.week, present)
        self.week += dt.timedelta(days=7)
        return date, len(present)


VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
NEAR_DUP_SHARE = 0.05
COPY_EVERY = 10
C4_FAIL_SHARE = 0.01
JS_LINE_SHARE = 0.05
JS_LINE = "please enable javascript to view this page"


def documents(n: int, seed: int) -> tuple[pa.Table, dict[str, int]]:
    """A corpus shaped like the repository's test-data ``documents`` table,
    plus rows that the first two curation stages must drop.

    ``n`` base documents: bags of 10 to 100 words over a 30-word
    vocabulary, 5% of them near-duplicates (an earlier document with two
    words replaced and " dup" appended), languages drawn with the table's
    shares. Every base text is distinct. Then:

    - ``JS_LINE_SHARE`` of base documents get a second line containing
      "javascript", which the C4 line rule drops (the document stays);
    - ``C4_FAIL_SHARE`` of ``n`` documents for each of four C4 document
      rules (a ``{``, the "lorem ipsum" blocklist phrase, only a
      "javascript" line, empty text), which ``c4_clean`` drops;
    - an exact copy of every ``COPY_EVERY``-th base document under a new
      id, which ``exact_dedup`` drops.

    Returns the table and the row counts the audit report must show for
    ``input``, ``c4_clean`` and ``exact_dedup``, known by construction."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < n:
        if len(texts) > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, len(texts)))].split("\n")[0].split()
            for j in rng.integers(0, len(words), size=2):
                words[j] = vocab[rng.integers(0, len(vocab))]
            text = " ".join(words) + " dup"
        else:
            text = " ".join(vocab[rng.integers(0, len(vocab), size=int(rng.integers(10, 101)))])
        if text in seen:
            continue
        seen.add(text)
        texts.append(text + "\n" + JS_LINE if rng.random() < JS_LINE_SHARE else text)
    copies = texts[::COPY_EVERY]
    failing: list[str] = []
    for _ in range(max(1, round(n * C4_FAIL_SHARE))):
        words = " ".join(vocab[rng.integers(0, len(vocab), size=20)])
        failing += [words + " {", "lorem ipsum " + words, JS_LINE + " " + words, ""]
    rows = texts + copies + failing
    counts = {"input": len(rows), "c4_clean": len(texts) + len(copies), "exact_dedup": len(texts)}
    table = pa.table({
        "doc_id": pa.array(np.arange(len(rows), dtype=np.int64)),
        "text": pa.array(rows),
        "lang": pa.array(rng.choice(LANGS, size=len(rows), p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(len(rows))]),
        "n_chars": pa.array(np.array([len(t) for t in rows], dtype=np.int64)),
    })
    return table, counts
