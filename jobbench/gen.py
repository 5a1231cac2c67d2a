"""Seeded input generators for the job benchmark.

Everything here is numpy + pyarrow: inputs are generated and landed as
parquet without going through Spark, so the engine only ever sees files.
The same ``seed`` always gives byte-identical inputs.

* ``people``: a person store (the nested ``schemas.PERSON`` shape) and an
  encounter table in the production 4-column ``schemas.ENCOUNTER`` shape
  (no derivation-internal columns). Household sizes are heavy-tailed with a
  few mega-households, a share of persons is already processed, a share has
  no household, and a second client code is mixed in as noise.
* ``documents``: a Zipf-vocabulary corpus with planted near-duplicates, plus
  a batch of new documents that carries planted near-duplicates of the base.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AS_OF = datetime(2026, 8, 1, tzinfo=timezone.utc)
AS_OF_MS = int(AS_OF.timestamp() * 1000)
CLIENT = "HOUSEHOLD"
NOISE_CLIENT = "OTHER"
DAY_MS = 86_400_000
YEARS = 6

DATE_RANGE = pa.struct([("gte", pa.int64()), ("lte", pa.int64())])
DATE_RANGE_ALT = pa.struct([("gte", pa.string()), ("lte", pa.string())])
HISTORY = pa.list_(
    pa.struct(
        [
            ("date_range", DATE_RANGE),
            ("date_range_alt", DATE_RANGE_ALT),
            ("retained", pa.bool_()),
        ]
    )
)
PERSON_SCHEMA = pa.schema(
    [
        pa.field("person_id", pa.string(), nullable=False),
        ("client_code", pa.string()),
        ("household", pa.struct([("household_id", pa.string())])),
        ("household_retention_history", HISTORY),
    ]
)
ENCOUNTER_SCHEMA = pa.schema(
    [
        pa.field("encounter_id", pa.string(), nullable=False),
        ("person_id", pa.string()),
        ("client_code", pa.string()),
        ("admit_date", pa.int64()),
    ]
)
PROCESSED = [
    {
        "date_range": {"gte": 0, "lte": 1},
        "date_range_alt": {"gte": "1970-01-01", "lte": "1970-01-01 00:00:00"},
        "retained": False,
    }
]


@dataclass
class People:
    persons: pa.Table
    encounters: pa.Table  # every encounter, admit_date-sorted
    props: dict = field(default_factory=dict)


def people(
    seed: int,
    n_persons: int,
    encounters_per_person: float,
    processed_frac: float = 0.08,
    no_household_frac: float = 0.05,
    noise_frac: float = 0.10,
    mega_households: int = 3,
    mega_frac: float = 0.015,
) -> People:
    """Persons grouped into heavy-tailed households, with encounters spread
    over ``YEARS`` years before ``AS_OF`` at second granularity."""
    rng = np.random.default_rng([seed, 1])
    # household sizes: a few mega-households, the rest Zipf(2.2) capped at 40
    sizes = [max(2, int(mega_frac * n_persons))] * mega_households
    left = n_persons - sum(sizes)
    while left > 0:
        s = int(min(rng.zipf(2.2), 40, left))
        sizes.append(s)
        left -= s
    hh_of = np.repeat(np.arange(len(sizes)), sizes)
    rng.shuffle(hh_of)
    hh_ids = np.array([f"H{h:06d}" for h in hh_of], dtype=object)
    no_hh = rng.random(n_persons) < no_household_frac
    hh_ids[no_hh] = None
    noise = rng.random(n_persons) < noise_frac
    clients = np.where(noise, NOISE_CLIENT, CLIENT)
    processed = rng.random(n_persons) < processed_frac
    pids = [f"P{i:07d}" for i in range(n_persons)]
    persons = pa.table(
        {
            "person_id": pids,
            "client_code": clients.tolist(),
            "household": [{"household_id": h} for h in hh_ids],
            "household_retention_history": [
                PROCESSED if p else None for p in processed
            ],
        },
        schema=PERSON_SCHEMA,
    )
    # encounters: per-person rate is lognormal around the mean, so a few
    # frequent flyers carry long admit chains
    rate = rng.lognormal(0.0, 0.8, n_persons)
    counts = rng.poisson(rate / rate.mean() * encounters_per_person)
    owner = np.repeat(np.arange(n_persons), counts)
    n_enc = int(owner.size)
    span_s = YEARS * 365 * 86_400
    admit = AS_OF_MS - rng.integers(0, span_s, n_enc) * 1000
    # encounter client follows its person, with a little cross-client noise
    enc_client = clients[owner]
    flip = rng.random(n_enc) < 0.02
    enc_client = np.where(
        flip, np.where(enc_client == CLIENT, NOISE_CLIENT, CLIENT), enc_client
    )
    order = np.argsort(admit, kind="stable")
    owner, admit, enc_client = owner[order], admit[order], enc_client[order]
    pid_arr = np.array(pids, dtype=object)
    encounters = pa.table(
        {
            "encounter_id": [f"E{j:09d}" for j in range(n_enc)],
            "person_id": pid_arr[owner].tolist(),
            "client_code": enc_client.tolist(),
            "admit_date": admit,
        },
        schema=ENCOUNTER_SCHEMA,
    )
    real = np.bincount(hh_of, minlength=len(sizes))
    props = {
        "persons": n_persons,
        "eligible_persons": int((~noise & ~no_hh & ~processed).sum()),
        "households": len(sizes),
        "household_size_p50": float(np.median(real)),
        "household_size_p99": float(np.quantile(real, 0.99)),
        "household_size_max": int(real.max()),
        "mega_households": mega_households,
        "processed_frac": processed_frac,
        "no_household_frac": no_household_frac,
        "noise_client_frac": noise_frac,
        "encounters": n_enc,
        "encounter_years": YEARS,
    }
    return People(persons, encounters, props)


def daily_delta(
    seed: int, data: People, household_frac: float
) -> tuple[pa.Table, pa.Table]:
    """Split ``data.encounters`` into a base (everything before the last
    day) and one daily delta: admits on the last day for about 60% of the
    members of ``household_frac`` of the households. The base drops the last
    day's other encounters, so base + delta is the whole encounter set."""
    rng = np.random.default_rng([seed, 2])
    day0 = AS_OF_MS - DAY_MS
    admit = data.encounters.column("admit_date").to_numpy()
    base = data.encounters.filter(pa.array(admit < day0))
    hh = np.array(
        [h["household_id"] for h in data.persons.column("household").to_pylist()],
        dtype=object,
    )
    pids = np.array(data.persons.column("person_id").to_pylist(), dtype=object)
    clients = np.array(data.persons.column("client_code").to_pylist(), dtype=object)
    households = np.unique(hh[hh != None])  # noqa: E711 - numpy elementwise
    chosen = rng.choice(households, max(1, int(household_frac * households.size)),
                        replace=False)
    members = np.flatnonzero(np.isin(hh, chosen))
    keep = rng.random(members.size) < 0.6
    members = members[keep] if keep.any() else members[:1]
    delta = pa.table(
        {
            "encounter_id": [f"D{j:09d}" for j in range(members.size)],
            "person_id": pids[members].tolist(),
            "client_code": clients[members].tolist(),
            "admit_date": day0 + rng.integers(0, 86_400, members.size) * 1000,
        },
        schema=ENCOUNTER_SCHEMA,
    )
    return base, delta


def write_parquet(table: pa.Table, directory: str, name: str = "part-0") -> str:
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return directory


# --------------------------------------------------------------- documents


@dataclass
class Corpus:
    base: pa.Table  # (doc_id, text)
    batch: pa.Table  # new documents
    planted: dict[int, int]  # new doc_id -> the base doc it copies
    queries: list[tuple[str, str]]
    props: dict = field(default_factory=dict)


def _zipf_words(rng, vocab: np.ndarray, weights: np.ndarray, n: int) -> list[str]:
    return vocab[rng.choice(vocab.size, n, p=weights)].tolist()


def _mutate(rng, words: list[str], vocab, weights) -> list[str]:
    out = list(words)
    out[int(rng.integers(0, len(out)))] = _zipf_words(rng, vocab, weights, 1)[0]
    return out


def documents(
    seed: int,
    n_docs: int,
    batch_size: int,
    words_per_doc: int = 65,
    vocab_size: int = 20_000,
    neardup_frac: float = 0.10,
    n_queries: int = 20,
) -> Corpus:
    """About ``words_per_doc`` Zipf words per document (~450 chars); a
    ``neardup_frac`` share of the base and of the batch are copies of an
    earlier base document with one word replaced (word-trigram Jaccard
    about 0.9, far above the index's 0.6 cut-off)."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"t{i:05x}" for i in range(vocab_size)], dtype=object)
    # Zipf(1.1) weights over a finite vocabulary
    weights = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
    weights /= weights.sum()
    texts: list[list[str]] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < neardup_frac:
            texts.append(
                _mutate(rng, texts[rng.integers(0, i)], vocab, weights)
            )
        else:
            texts.append(_zipf_words(rng, vocab, weights, words_per_doc))
    base = pa.table(
        {"doc_id": pa.array(range(n_docs), pa.int64()),
         "text": [" ".join(t) for t in texts]}
    )
    bt, planted = [], {}
    for doc_id in range(n_docs, n_docs + batch_size):
        if rng.random() < neardup_frac:
            src = int(rng.integers(0, n_docs))
            bt.append(_mutate(rng, texts[src], vocab, weights))
            planted[doc_id] = src
        else:
            bt.append(_zipf_words(rng, vocab, weights, words_per_doc))
    batch = pa.table(
        {"doc_id": pa.array(range(n_docs, n_docs + batch_size), pa.int64()),
         "text": [" ".join(t) for t in bt]}
    )
    # queries: 2-3 mid-frequency words, so each matches a real posting list
    queries = [
        (f"q{i:02d}", " ".join(vocab[rng.integers(20, 2000, rng.integers(2, 4))]))
        for i in range(n_queries)
    ]
    chars = np.array([len(t) for t in base.column("text").to_pylist()])
    props = {
        "docs": n_docs,
        "doc_chars_mean": round(float(chars.mean()), 1),
        "vocab": vocab_size,
        "zipf_s": 1.1,
        "neardup_frac": neardup_frac,
        "batch_size": batch_size,
        "queries_per_batch": n_queries,
    }
    return Corpus(base, batch, planted, queries, props)
