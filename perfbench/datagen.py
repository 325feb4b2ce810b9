"""Seeded benchmark inputs.

Every generator builds its ``numpy.random.Generator`` from the run's
``--seed``, so one seed always gives the same bytes. Nothing here starts
Spark: inputs are written with pyarrow before the session exists, which
keeps generation out of the measured set-up time.

- ``write_star_schema``: the ten tables the headline queries read (the
  TPC-H-like star schema plus ``events``, ``documents`` and ``embeddings``),
  with the column types and value domains of the engine's reference test
  data (TESTDATA.md), scaled by ``sf``.
- ``write_music_source``: the pipeline's source tables in the FIXTURES.md
  §1-6 schema.
- ``write_event_files``: an events table as JSON-lines files in event-time
  order, the stream's landing zone.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
GENRES = ("Pop", "Rock", "Hip-Hop", "Jazz", "Electronic", "Classical", "Country")

US_PER_DAY = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype("int64")
    return pa.array(start + offsets_us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events_columns(rng: np.random.Generator, n: int, users: int) -> dict:
    """The ``events`` table: ids dense in event-time order over 30 days."""
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    return {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts("2024-01-01", ts),
        "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random word-salad documents; one in five is a mutated copy of an
    earlier one, so the near-duplicate join has real pairs to find."""
    docs: list[list[str]] = []
    vocab = np.array(WORDS)
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = list(docs[int(rng.integers(0, i))])
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[int(j)] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))])
        docs.append(words)
    text = [" ".join(w) for w in docs]
    lang_p = (0.44, 0.14, 0.14, 0.14, 0.14)
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(text),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype="int64")),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    """Unit vectors around ten cluster centres; ``label`` is the cluster."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    }


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the headline tables under ``out_dir``; return rows per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt, n_doc = int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": pa.array(
                [
                    f"{ADJECTIVES[a]} {NOUNS[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * US_PER_DAY),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * US_PER_DAY),
        },
        "events": events_columns(rng, n_evt, n_cust),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_doc),
    }
    for name, cols in tables.items():
        _write(out_dir, name, cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


def write_music_source(
    out_dir: str, seed: int, users: int, songs: int, events: int
) -> dict[str, int]:
    """The medallion pipeline's source tables (FIXTURES.md §1-6): events over
    21 days that cross a month boundary, so both the year/month partitions
    and the 7-day trending window are exercised."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    day0 = "2024-01-20"
    days = 21
    track_ids = np.arange(10001, 10001 + songs, dtype="int64")
    artist = rng.integers(1, max(2, songs // 10) + 1, songs).astype("int64")
    popularity = rng.uniform(0.1, 1.0, songs).astype("float32")
    dim_songs = {
        "track_id": pa.array(track_ids),
        "title": pa.array([f"Song Title {i}" for i in range(songs)]),
        "artist_id": pa.array(artist),
        "artist_name": pa.array([f"Artist {a}" for a in artist]),
        "genre": pa.array(np.array(GENRES)[rng.integers(0, 7, songs)]),
        "duration_ms": pa.array(rng.integers(120_000, 300_001, songs).astype("int32")),
        "release_date": pa.array(
            (np.datetime64(day0, "D") + rng.integers(-30, 10, songs)).astype("datetime64[D]")
        ),
        "base_popularity": pa.array(popularity),
    }
    user_ids = np.arange(1, users + 1, dtype="int64")
    join_days = rng.integers(-60, 0, users)
    dim_users = {
        "user_id": pa.array(user_ids),
        "user_name": pa.array([f"User_{i}" for i in user_ids]),
        "preferred_genres": pa.array(
            [
                ",".join(rng.choice(GENRES, int(rng.integers(1, 4)), replace=False))
                for _ in range(users)
            ]
        ),
        "join_date": pa.array((np.datetime64(day0, "D") + join_days).astype("datetime64[D]")),
    }
    n_pl = rng.integers(0, 6, users)
    owners = np.repeat(user_ids, n_pl)
    pl_ids = np.arange(1, len(owners) + 1, dtype="int64")
    pl_k = np.concatenate([np.arange(1, k + 1) for k in n_pl]) if len(owners) else []
    dim_playlists = {
        "playlist_id": pa.array(pl_ids),
        "playlist_name": pa.array([f"User_{u}'s Mix #{k}" for u, k in zip(owners, pl_k)]),
        "owner_user_id": pa.array(owners),
        "created_date": pa.array(
            (np.datetime64(day0, "D") + join_days[owners - 1]).astype("datetime64[D]")
        ),
    }
    bridge_pl, bridge_tr = [], []
    for pid in pl_ids:
        tracks = rng.choice(track_ids, int(rng.integers(10, 51)), replace=False)
        bridge_pl.append(np.full(len(tracks), pid))
        bridge_tr.append(tracks)
    bridge = {
        "playlist_id": pa.array(np.concatenate(bridge_pl).astype("int64")),
        "track_id": pa.array(np.concatenate(bridge_tr).astype("int64")),
    }
    edges = set()
    for u in user_ids:
        others = rng.choice(users - 1, int(rng.integers(5, 21)), replace=False) + 1
        for v in others + (others >= u):  # skip u itself
            edges.add((int(u), int(v)))
            edges.add((int(v), int(u)))  # stored in both directions (§5)
    a, b = zip(*sorted(edges))
    follows = {
        "user_id_a": pa.array(np.array(a, dtype="int64")),
        "user_id_b": pa.array(np.array(b, dtype="int64")),
    }
    p = popularity.astype("float64")
    p /= p.sum()
    offsets = np.sort(rng.integers(0, days * US_PER_DAY, events))
    fact = {
        "event_id": pa.array([f"evt_{n}" for n in range(events)]),
        "user_id": pa.array(rng.integers(1, users + 1, events).astype("int64")),
        "track_id": pa.array(rng.choice(track_ids, events, p=p)),
        "event_type": pa.array(
            np.array(["complete_listen", "like", "skip"])[
                rng.choice(3, events, p=(0.7, 0.15, 0.15))
            ]
        ),
        "timestamp": _ts(day0, offsets),
    }
    tables = {
        "dim_songs": dim_songs,
        "dim_users": dim_users,
        "dim_playlists": dim_playlists,
        "bridge_playlist_tracks": bridge,
        "graph_user_follows": follows,
        "fact_listening_events": fact,
    }
    for name, cols in tables.items():
        _write(out_dir, name, cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


def write_event_files(out_dir: str, seed: int, rows: int, users: int, files: int) -> None:
    """``rows`` events as ``files`` JSON-lines files in event-time order.
    The seed draws both the events and the file boundaries (each file holds
    between half and one and a half of the mean share)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    cols = events_columns(rng, rows, users)
    py = {k: v.to_pylist() for k, v in cols.items()}
    recs = [
        {
            "event_id": py["event_id"][i],
            "ts": py["ts"][i].strftime("%Y-%m-%dT%H:%M:%S.%f+00:00"),
            "user_id": py["user_id"][i],
            "event_type": py["event_type"][i],
            "value": py["value"][i],
            "props": py["props"][i],
        }
        for i in range(rows)
    ]
    share = rng.uniform(0.5, 1.5, files)
    cuts = np.concatenate([[0], np.round(np.cumsum(share) / share.sum() * rows)]).astype(int)
    for f in range(files):
        with open(os.path.join(out_dir, f"part-{f:04d}.json"), "w") as fh:
            for r in recs[cuts[f] : cuts[f + 1]]:
                fh.write(json.dumps(r) + "\n")
