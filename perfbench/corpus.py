"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes, so two runs of one seed see identical inputs and a second seed
sees a different corpus of the same shape.
"""

from __future__ import annotations

import csv
import hashlib
import io
import json
import os
import random
import sys
from dataclasses import dataclass, field

# the 30 words of the registry's sf0.1 `documents` table (its texts use
# these plus the marker "dup" that ends a near copy)
VOCAB = (
    "a the spark stream batch table row column key value hash join group agg "
    "sort filter scan window order part line customer data query vector fast "
    "slow big small merge"
).split()
# the sf0.1 table's language mix, in per cent: en 2059, zh 753, es 744,
# fr 742, de 702 of 5000 rows
LANGS = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]
VENDORS = [f"Vendor {c}" for c in "ABCDEFGHIJKLMNOPQ"]


def _pdf_builder():
    """`tests/pdf_fixtures.simple_pdf` from the checkout: hand-assembled
    PDFs with valid xref tables, the same bytes the extractor tests use."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tests"))
    from pdf_fixtures import simple_pdf

    return simple_pdf


@dataclass
class EtlCorpus:
    """What the benchmark knows about a generated document corpus."""

    files: dict[str, bytes] = field(default_factory=dict)  # name -> bytes
    corrupt: set[str] = field(default_factory=set)  # names planted to fail

    @property
    def n_files(self) -> int:
        return len(self.files)

    def hashes(self) -> dict[str, str]:
        return {n: hashlib.sha256(b).hexdigest() for n, b in self.files.items()}


def _invoice_text(rng: random.Random, i: int) -> str:
    words = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(20, 80)))
    return (
        f"Invoice {i}: total {rng.randint(10, 99999)} dollars, "
        f"vendor {rng.choice(VENDORS)}.\n\n{words}\n"
    )


def make_etl_corpus(root: str, n_files: int, seed: int) -> EtlCorpus:
    """~70 % txt (JVM decode path), ~30 % JSON/CSV/PDF (Arrow adapters),
    about 0.3 % corrupt files (invalid UTF-8 txt, truncated PDF, broken
    JSON) and ~3 % same-content-different-name copies."""
    rng = random.Random(seed)
    simple_pdf = _pdf_builder()
    corpus = EtlCorpus()
    n_corrupt = max(3, n_files // 300)
    n_dups = n_files * 3 // 100
    n_plain = n_files - n_corrupt - n_dups
    for i in range(n_plain):
        text = _invoice_text(rng, i)
        kind = rng.random()
        if kind < 0.70:
            name, data = f"doc{i:05d}.txt", text.encode()
        elif kind < 0.80:
            name = f"doc{i:05d}.json"
            data = json.dumps(
                {"id": i, "body": {"text": text, "tags": [rng.choice(VOCAB)]}}
            ).encode()
        elif kind < 0.90:
            buf = io.StringIO()
            w = csv.writer(buf)
            w.writerow(["field", "value"])
            for line in text.split("\n"):
                if line:
                    w.writerow(["line", line])
            name, data = f"doc{i:05d}.csv", buf.getvalue().encode()
        else:
            ascii_text = text.replace("\n\n", "\n").strip()
            name, data = f"doc{i:05d}.pdf", simple_pdf([ascii_text])
        corpus.files[name] = data
    originals = sorted(corpus.files)
    for j in range(n_dups):
        src = rng.choice(originals)
        corpus.files[f"copy{j:05d}_{src}"] = corpus.files[src]
    for j in range(n_corrupt):
        kind = j % 3
        if kind == 0:
            name, data = f"bad{j:04d}.txt", b"caf\xe9 \xff\xfe broken " + str(j).encode()
        elif kind == 1:
            name, data = f"bad{j:04d}.pdf", b"%PDF-1.5\ntruncated " + str(j).encode()
        else:
            name, data = f"bad{j:04d}.json", b'{"id": ' + str(j).encode() + b', "body": ['
        corpus.files[name] = data
        corpus.corrupt.add(name)
    os.makedirs(root, exist_ok=True)
    for name, data in corpus.files.items():
        with open(os.path.join(root, name), "wb") as f:
            f.write(data)
    return corpus


def make_documents(n_docs: int, seed) -> list[tuple[int, str, str, str, int]]:
    """Rows of the registry's `documents` table (doc_id, text, lang,
    source, n_chars), in the shape measured on its sf0.1 copy (5000 rows):
    a text is 10-99 words drawn uniformly from VOCAB (44-577 chars); 5 %
    of the rows are near copies, another row's text plus " dup", placed
    after the texts are drawn so a copy can copy a copy; exact duplicates
    come only from two copies of one text (8 pairs in 5000 rows); `source`
    is `src{doc_id % 20}` and `n_chars` the text's length."""
    rng = random.Random(seed)
    langs = [lang for lang, w in LANGS for _ in range(w)]
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
        for _ in range(n_docs)
    ]
    for i in rng.sample(range(n_docs), n_docs // 20):
        texts[i] = texts[rng.randrange(n_docs)] + " dup"
    return [
        (i, t, rng.choice(langs), f"src{i % 20}", len(t)) for i, t in enumerate(texts)
    ]


def make_event_drop(i: int, per_drop: int, n_users: int, seed) -> list[tuple]:
    """Rows (user_id, ts_us, event_id, event_type) of drop i of the CEP
    stream, a pure function of (seed, i). Drop i holds only timestamps of
    hour i, so every user's events arrive in time order across drops, as a
    streaming source delivers them."""
    rng = random.Random(f"{seed}/events/{i}")
    types = ["view"] * 6 + ["click"] * 3 + ["purchase", "error", "signup"]
    base = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in microseconds
    hour = 3_600_000_000
    return [
        (
            rng.randrange(n_users),
            base + i * hour + rng.randrange(hour),
            i * per_drop + e,
            rng.choice(types),
        )
        for e in range(per_drop)
    ]
