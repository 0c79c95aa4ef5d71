"""Seeded inputs for the benchmark: the document corpus, the question
mix, open-loop arrival times and the admission batch files.

The corpus is the repo's sf0.1 `documents` table (doc_id, text, lang,
source; 5,000 rows, 20 sources, 250 near-duplicates and 8 exact
duplicates), the same table the repo's parity checks and `bench.py`
read. A copy ships in `data/documents.parquet`, so a run reads nothing
outside the checkout. The seed chooses which documents a workload uses
and in what order; the rows themselves are never changed.
"""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow.parquet as pq

DOCS_PATH = Path(__file__).resolve().parent / "data" / "documents.parquet"
DOC_COLUMNS = ("doc_id", "text", "lang", "source")
# the table's 30-word vocabulary, which the question templates draw from
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_SOURCES = 20


def documents() -> list[tuple[int, str, str, str]]:
    """Every (doc_id, text, lang, source) row of the table, in doc_id order."""
    t = pq.read_table(DOCS_PATH, columns=list(DOC_COLUMNS))
    return sorted(zip(*(t.column(c).to_pylist() for c in DOC_COLUMNS)))


DOC_SCHEMA = "doc_id long, text string, lang string, source string"

# The four intents of the serving mix. Each template is filled with a
# seeded vocabulary word, module index or source, so questions differ
# in text (and therefore in embedding and retrieval) within an intent.
INTENTS = (
    ("overview", "tell me about the projects that handle {w} {v}"),
    ("config", "how is the {w} {v} configured"),
    ("codey", "stacktrace timeout exception in {w} {v} function"),
    ("repo_hint", "repo: {src} what does module m{m} contain about {w}"),
)


def questions(n: int, seed: int, prefix: str = "q") -> list[dict]:
    """`n` questions cycling through the four intents, with seeded words."""
    rng = random.Random(f"questions-{seed}-{prefix}")
    out = []
    for i in range(n):
        intent, tmpl = INTENTS[i % len(INTENTS)]
        text = tmpl.format(
            w=rng.choice(VOCAB),
            v=rng.choice(VOCAB),
            src=f"src{rng.randrange(N_SOURCES)}",
            m=rng.randrange(7),
        )
        out.append({"job_id": f"{prefix}{i:05d}", "query": text, "intent": intent})
    return out


def poisson_offsets(n: int, rate_per_s: float, seed: int) -> list[float]:
    """Due times (seconds from the start) of `n` open-loop arrivals: a
    seeded Poisson process at `rate_per_s` conditioned on exactly `n`
    arrivals in `n / rate_per_s` seconds. Given the count, Poisson arrival
    times are independent and uniform over the window (exponential gaps
    rescaled to the window), so every seed offers the same load and the
    seed varies only how arrivals cluster."""
    rng = random.Random(f"arrivals-{seed}")
    return sorted(rng.uniform(0.0, n / rate_per_s) for _ in range(n))


def split_admission(
    rows: list[tuple[int, str, str, str]], seed: int, base_share: float,
    n_batches: int, batch_docs: int,
) -> tuple[list[tuple], list[list[tuple]]]:
    """Seeded split of the corpus: `base_share` of it seeds the dedup
    store, and `n_batches` batch files of `batch_docs` documents each,
    drawn from the rest in shuffled order, arrive at the gate."""
    rng = random.Random(f"admission-{seed}")
    order = list(rows)
    rng.shuffle(order)
    n_base = int(len(order) * base_share)
    base, rest = order[:n_base], order[n_base:]
    return base, [rest[i * batch_docs : (i + 1) * batch_docs] for i in range(n_batches)]
