"""Seeded input generators. Same seed, same inputs; nothing here touches
Spark — the engine only ever sees the files and frames built from these."""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TTL is evaluated against a fixed clock, so expiry never depends on when
# the benchmark runs
NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)
PAST = datetime(2020, 1, 1, tzinfo=timezone.utc)
FUTURE = datetime(2030, 1, 1, tzinfo=timezone.utc)

VEC_DIM = 8
EMB_DIM = 64
LOCATIONS = np.array(["IN-DL", "IN-MH", "IN-KA", "IN-TN", "IN-UP", "IN-WB", "IN-GJ", "IN-RJ"])

USER_SCHEMA = pa.schema(
    [
        ("user_id", pa.int64()),
        ("demo_int32__age", pa.int32()),
        ("demo_fp__acct_bal", pa.float32()),
        ("demo_fp__ctr", pa.float32()),
        ("demo_str__location", pa.string()),
        ("demo_bool__is_active", pa.bool_()),
        ("demo_vec__taste_vec", pa.list_(pa.float32())),
        ("expires_at", pa.timestamp("us", tz="UTC")),
    ]
)
# the same schema as a Spark DDL string, for the streaming source
USER_DDL = (
    "user_id long, demo_int32__age int, demo_fp__acct_bal float, demo_fp__ctr float, "
    "demo_str__location string, demo_bool__is_active boolean, "
    "demo_vec__taste_vec array<float>, expires_at timestamp"
)


@dataclass
class UserRows:
    """Columnar user feature rows; ``expired`` marks rows whose
    ``expires_at`` lies before NOW."""

    user_id: np.ndarray
    age: np.ndarray
    acct_bal: np.ndarray
    ctr: np.ndarray
    location: np.ndarray
    is_active: np.ndarray
    taste: np.ndarray
    expired: np.ndarray

    def __len__(self) -> int:
        return len(self.user_id)

    def row(self, i: int) -> tuple:
        return (
            int(self.age[i]),
            float(self.acct_bal[i]),
            float(self.ctr[i]),
            str(self.location[i]),
            bool(self.is_active[i]),
            self.taste[i],
            bool(self.expired[i]),
        )

    def write(self, path: str) -> int:
        """Write as one zstd parquet file; returns its size in bytes."""
        ts = np.where(self.expired, PAST.timestamp(), FUTURE.timestamp())
        table = pa.table(
            [
                pa.array(self.user_id, pa.int64()),
                pa.array(self.age, pa.int32()),
                pa.array(self.acct_bal, pa.float32()),
                pa.array(self.ctr, pa.float32()),
                pa.array(self.location, pa.string()),
                pa.array(self.is_active, pa.bool_()),
                pa.FixedSizeListArray.from_arrays(
                    pa.array(self.taste.reshape(-1), pa.float32()), VEC_DIM
                ).cast(pa.list_(pa.float32())),
                pa.array((ts * 1e6).astype(np.int64), pa.timestamp("us", tz="UTC")),
            ],
            schema=USER_SCHEMA,
        )
        pq.write_table(table, path, compression="zstd")
        return os.path.getsize(path)


def user_rows(rng: np.random.Generator, ids: np.ndarray, expired_share: float) -> UserRows:
    n = len(ids)
    return UserRows(
        user_id=ids.astype(np.int64),
        age=rng.integers(18, 81, n).astype(np.int32),
        acct_bal=(rng.integers(-100_000, 1_000_000, n) / 100.0).astype(np.float32),
        ctr=rng.random(n).astype(np.float32),
        location=LOCATIONS[rng.integers(0, len(LOCATIONS), n)],
        is_active=rng.random(n) < 0.7,
        taste=rng.standard_normal((n, VEC_DIM)).astype(np.float32),
        expired=rng.random(n) < expired_share,
    )


def zipf_keys(rng: np.random.Generator, perm: np.ndarray, size: int, a: float = 1.2) -> np.ndarray:
    """Zipf-skewed draws over ``perm`` (rank r maps to perm[r]); the
    permutation scatters hot keys across hash buckets."""
    ranks = rng.zipf(a, size) - 1
    return perm[ranks % len(perm)]


def write_embeddings(
    rng: np.random.Generator, n: int, path: str, id_col: str, n_clusters: int = 16
) -> np.ndarray:
    """Clustered float32 embeddings (cluster centre + noise), one parquet
    file with ``id_col`` and ``embedding``; returns the matrix."""
    centres = rng.standard_normal((n_clusters, EMB_DIM))
    emb = (
        centres[rng.integers(0, n_clusters, n)] + 0.35 * rng.standard_normal((n, EMB_DIM))
    ).astype(np.float32)
    table = pa.table(
        {
            id_col: pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1), pa.float32()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path, compression="zstd")
    return emb


def documents(rng: np.random.Generator, n_docs: int, vocab: int = 4000) -> tuple[list[int], list[str]]:
    """``n_docs`` random documents over a Zipf vocabulary, plus an exact copy
    (id + 100000) and a near copy with one appended token (id + 200000) of
    every 25th document — the injected duplicates the dedup passes must
    find. Rows come back shuffled."""
    words = np.array([f"w{i}" for i in range(vocab)])
    ids: list[int] = []
    texts: list[str] = []
    for d in range(n_docs):
        n_words = int(rng.integers(12, 90))
        toks = words[(rng.zipf(1.15, n_words) - 1) % vocab]
        text = " ".join(toks)
        ids.append(d)
        texts.append(text)
        if d % 25 == 0:
            ids += [d + 100_000, d + 200_000]
            texts += [text, text + " zz9"]
    order = rng.permutation(len(ids))
    return [ids[i] for i in order], [texts[i] for i in order]


def write_documents(path: str, ids: list[int], texts: list[str]) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        path,
        compression="zstd",
    )


def events(
    rng: np.random.Generator, users: np.ndarray, n: int, first_id: int, weeks: int = 8
) -> dict[str, np.ndarray]:
    """``n`` interaction events for Zipf-skewed users over ``weeks`` weeks
    before NOW, with distinct event ids from ``first_id``."""
    start = NOW.timestamp() - weeks * 7 * 86400
    ts = start + rng.integers(0, weeks * 7 * 86400, n)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": zipf_keys(rng, users, n, a=1.3).astype(np.int64),
        "ts_us": (ts * 1_000_000).astype(np.int64),
        "value": rng.random(n),
    }


def write_events(path: str, ev: dict[str, np.ndarray]) -> None:
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ev["event_id"]),
                "user_id": pa.array(ev["user_id"]),
                "ts": pa.array(ev["ts_us"], pa.timestamp("us", tz="UTC")),
                "value": pa.array(ev["value"]),
            }
        ),
        path,
        compression="zstd",
    )
