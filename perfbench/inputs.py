"""Seeded inputs for the benchmark.

Everything the program reads is derived here from the workload seed:
the same seed gives byte-identical tables, and the program sees only
the tables, never the seed.
"""

from __future__ import annotations

import datetime
import hashlib
import random

import pyarrow as pa

from src_to_kb_spark.sources.gazetteer import GAZ_VOCAB
from src_to_kb_spark.sources.pages import PAGE_EXTS, _gen_text

# Word list of the sf-testdata ``documents`` corpus: the gazetteer
# vocabulary (so every doc carries ~20 linkable mentions) plus two stop
# words that link to nothing.  'dup' marks planted near-duplicates.
SF_VOCAB = [w for w in GAZ_VOCAB if w != "dup"] + ["the", "a"]
SF_LANGS = ["en", "de", "fr", "es", "zh"]
SF_LANG_WEIGHTS = [8, 3, 3, 3, 3]
SF_SOURCES = 20
# Share of docs planted as near-copies of an earlier doc (one word
# swapped, 'dup' appended): about 0.04 verified pairs per doc at 0.8.
SF_NEARDUP_SHARE = 0.06

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def sf_documents(n: int, seed: int) -> pa.Table:
    """A ``documents`` table shaped like the sf testdata tables:
    8-100 random vocabulary words per doc (about 300 chars), 40% en,
    ``src<doc_id % 20>`` sources, and a planted near-dup share."""
    rng = random.Random(seed)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < SF_NEARDUP_SHARE:
            words = texts[rng.randrange(max(0, i - 200), i)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(SF_VOCAB)
            words.append("dup")
        else:
            words = rng.choices(SF_VOCAB, k=rng.randint(8, 100))
        texts.append(" ".join(words))
        langs.append(rng.choices(SF_LANGS, weights=SF_LANG_WEIGHTS)[0])
    return pa.Table.from_arrays(
        [
            pa.array(range(n), pa.int64()),
            pa.array(texts, pa.string()),
            pa.array(langs, pa.string()),
            pa.array([f"src{i % SF_SOURCES}" for i in range(n)], pa.string()),
            pa.array([len(t) for t in texts], pa.int64()),
        ],
        schema=DOCUMENTS_SCHEMA,
    )


def sf_urls(docs: pa.Table) -> list[str]:
    """The url ``load_pages`` derives for each row of a ``documents``
    table (``sources.pages.documents_to_pages``)."""
    return [
        f"https://{src}.example.com/{lang}/doc-{i}{PAGE_EXTS[i % 8]}"
        for i, src, lang in zip(docs.column("doc_id").to_pylist(),
                                docs.column("source").to_pylist(),
                                docs.column("lang").to_pylist())
    ]


PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def dup_pages(n: int, seed: int) -> pa.Table:
    """The pages table ``synthetic_pages_distributed(spark, n, seed)``
    generates (near-dup clusters of 4, about 1.5 kB per doc), built on
    in this process from the same per-doc function, so no Spark job runs."""
    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [_gen_text(i, seed) for i in range(n)]
    return pa.Table.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([t0 + datetime.timedelta(seconds=i % 86400)
                      for i in range(n)], PAGES_SCHEMA.field("warc_ts").type),
            pa.array([r[2].encode("utf-8") for r in rows], pa.binary()),
            pa.array([r[2] for r in rows], pa.string()),
            pa.array([r[1] for r in rows], pa.string()),
        ],
        schema=PAGES_SCHEMA,
    )


def _rank(seed: int, key: str) -> bytes:
    return hashlib.sha256(f"{seed}|{key}".encode()).digest()


def delta_keys(keys: list[str], seed: int, share: float = 0.01) -> set[str]:
    """The held-out delta: exactly ``round(len(keys) * share)`` keys
    (at least one), the smallest by sha256 of (seed, key).  Depends
    only on the key set and the seed, never on the keys' order."""
    k = max(1, round(len(keys) * share))
    return set(sorted(set(keys), key=lambda u: _rank(seed, u))[:k])
