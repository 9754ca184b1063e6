"""Seeded input generators for the three benchmark workloads.

Every generator is single-process, draws only from ``random.Random(seed)``
(plus a NumPy generator seeded from it) and writes its files in a fixed
order, so the same seed gives byte-identical files. Each returns a dict of
input properties and ground truth that the workload checks against; the
sizes are fixed by the module constants, so two seeds differ only in
values, not in shape.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# sparkify_etl: song_data (one JSON object per file) + log_data (JSON lines)
# --------------------------------------------------------------------------

SPARKIFY = {
    "artists": 150,
    "songs_per_artist": 2,
    "log_days": 30,
    "log_rows_per_day": 1000,
    "users": 120,
}

_ALNUM = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_WORDS = (
    "love night heart fire rain blue dream road home light dance soul "
    "river city star time girl boy summer winter baby moon sun gold"
).split()
_PAGES = ["NextSong"] * 8 + ["Home", "Login", "Logout", "Settings"]
_LOCATIONS = [
    "San Francisco-Oakland-Hayward, CA",
    "New York-Newark-Jersey City, NY-NJ-PA",
    "Chicago-Naperville-Elgin, IL-IN-WI",
    "Atlanta-Sandy Springs-Roswell, GA",
]
_AGENTS = [
    '"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4)"',
    '"Mozilla/5.0 (Windows NT 6.1; WOW64; rv:31.0)"',
    None,
]
#: 2018-11-01T00:00:00Z in epoch milliseconds
_LOG_EPOCH_MS = 1541030400000


def _ident(rng: random.Random, prefix: str) -> str:
    return prefix + "".join(rng.choices(_ALNUM, k=16))


def gen_sparkify(seed: int, root: Path) -> dict:
    """Write ``root/song_data/A/B/C/TR*.json`` and ``root/log_data/YYYY/MM/*.json``.

    Edge rows (FIXTURES.md section A): null artist lat/long, ``year = 0``,
    one song_id duplicated across two files, one malformed log line,
    non-NextSong pages, empty ``userId`` rows, users whose level flips from
    free to paid, duplicate ``ts`` values, and null song/artist/length plays.
    About half the NextSong plays match a song exactly on
    ``(title, duration, artist_name)``.
    """
    rng = random.Random(seed)
    cfg = SPARKIFY
    songs: list[dict] = []
    for a in range(cfg["artists"]):
        aid = _ident(rng, "AR")
        name = f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS).title()} {a}"
        has_geo = a % 3 != 0
        # each artist's songs get distinct years, so songs fan out into
        # artists x songs_per_artist (year, artist_id) directories
        years = rng.sample([0, *range(1960, 2020)], cfg["songs_per_artist"])
        for year in years:
            songs.append(
                {
                    "num_songs": 1,
                    "artist_id": aid,
                    "artist_latitude": round(rng.uniform(-60, 60), 5) if has_geo else None,
                    "artist_longitude": round(rng.uniform(-150, 150), 5) if has_geo else None,
                    "artist_location": rng.choice(_LOCATIONS) if has_geo else "",
                    "artist_name": name,
                    "song_id": _ident(rng, "SO"),
                    # shared titles across artists: the join needs all 3 keys
                    "title": f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS).title()}",
                    "duration": round(rng.uniform(90, 420), 5),
                    "year": year,
                }
            )
    song_files = songs + [dict(songs[0])]  # duplicate song_id in a second file
    song_dir = root / "song_data"
    for i, s in enumerate(song_files):
        track = "TR" + "".join(rng.choices("ABC", k=3)) + f"{i:05d}"
        sub = song_dir / track[2] / track[3] / track[4]
        sub.mkdir(parents=True, exist_ok=True)
        (sub / f"{track}.json").write_text(json.dumps(s) + "\n")

    users = [
        (str(u + 2), rng.choice(_WORDS).title(), rng.choice(_WORDS).title(), rng.choice("MF"))
        for u in range(cfg["users"])
    ]
    flip_at = {uid: rng.randrange(cfg["log_days"]) for uid, *_ in users[::4]}
    song_keys: dict[tuple, int] = {}
    for s in song_files:
        k = (s["title"], s["duration"], s["artist_name"])
        song_keys[k] = song_keys.get(k, 0) + 1

    log_dir = root / "log_data"
    next_song_ts: set[int] = set()
    next_song_users: set[str] = set()
    n_rows = n_next = expected_songplays = 0
    for day in range(cfg["log_days"]):
        rows = []
        ts = _LOG_EPOCH_MS + 2 * day * 86_400_000  # every other day: two months
        for i in range(cfg["log_rows_per_day"]):
            uid, first, last, gender = rng.choice(users)
            anonymous = i % 40 == 7
            page = rng.choice(_PAGES)
            level = "paid" if uid in flip_at and day >= flip_at[uid] else "free"
            ts += rng.choice([0, 1000, 45_000, 90_000])  # 0 = duplicate ts
            row = {
                "artist": None, "auth": "Logged Out" if anonymous else "Logged In",
                "firstName": None if anonymous else first,
                "gender": None if anonymous else gender,
                "itemInSession": i % 50,
                "lastName": None if anonymous else last,
                "length": None, "level": level,
                "location": None if anonymous else rng.choice(_LOCATIONS),
                "method": "PUT" if page == "NextSong" else "GET",
                "page": page,
                "registration": None if anonymous else 1540919166796.0 + int(uid),
                "sessionId": day * 1000 + i // 20,
                "song": None, "status": 200, "ts": ts,
                "userAgent": None if anonymous else rng.choice(_AGENTS),
                "userId": "" if anonymous else uid,
            }
            if page == "NextSong":
                if rng.random() < 0.5:
                    s = rng.choice(songs)
                    row.update(artist=s["artist_name"], song=s["title"], length=s["duration"])
                elif rng.random() < 0.5:
                    row.update(artist="Unknown Artist", song="Unknown Song",
                               length=round(rng.uniform(90, 420), 5))
                n_next += 1
                next_song_ts.add(ts)
                if row["userId"]:
                    next_song_users.add(row["userId"])
                expected_songplays += song_keys.get(
                    (row["song"], row["length"], row["artist"]), 0
                )
            rows.append(json.dumps(row))
        date = datetime.fromtimestamp(
            (_LOG_EPOCH_MS + 2 * day * 86_400_000) / 1000, tz=timezone.utc
        )
        sub = log_dir / f"{date:%Y}" / f"{date:%m}"
        sub.mkdir(parents=True, exist_ok=True)
        if day == cfg["log_days"] - 1:
            rows.append("{not valid json")  # PERMISSIVE parse edge
        (sub / f"{date:%Y-%m-%d}-events.json").write_text("\n".join(rows) + "\n")
        n_rows += cfg["log_rows_per_day"]

    return {
        "song_glob": str(song_dir / "*" / "*" / "*" / "*.json"),
        "log_glob": str(log_dir / "*" / "*" / "*.json"),
        "song_files": len(song_files),
        "log_files": cfg["log_days"],
        "log_rows": n_rows,
        "records": len(song_files) + n_rows,
        "expected": {
            "songs": len(songs),
            "artists": cfg["artists"],
            "users": len(next_song_users),
            "time": len(next_song_ts),
            "songplays": expected_songplays,
        },
        "next_song_rows": n_next,
    }


# --------------------------------------------------------------------------
# curation: documents.parquet + embeddings.parquet (testdata schema)
# --------------------------------------------------------------------------

CORPUS = {
    "docs": 300,
    "exact_dup_share": 0.10,
    "near_dup_share": 0.10,
    "near_dup_edits": 3,
    "vocab": 400,
    "zipf_a": 1.3,
    "words_min": 30,
    "words_max": 110,
    "dim": 64,
    "topics": 24,
}
_STOP = ["the", "a", "of", "to", "and", "in", "is", "it"]
_LANGS = ["en", "fr", "es", "de", "zh"]


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    words, seen = [], set(_STOP)
    while len(words) < n:
        w = "".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return _STOP + words


def gen_corpus(seed: int, root: Path) -> dict:
    """Write ``root/documents.parquet`` and ``root/embeddings.parquet``.

    Words follow a Zipf law over the vocabulary (``zipf_a`` sets the skew);
    a share of documents are exact copies of earlier ones and another share
    are near-duplicates (``near_dup_edits`` word substitutions). Embeddings
    are noisy topic centroids, with planted near-identical vectors for the
    near-duplicate documents. The planted duplicate pairs are returned as
    ground truth for the MinHash useful-candidate ratio.
    """
    cfg = CORPUS
    rng = random.Random(seed)
    nrng = np.random.default_rng(rng.getrandbits(63))
    vocab = _vocabulary(rng, cfg["vocab"])
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    probs = ranks ** -cfg["zipf_a"]
    probs /= probs.sum()

    n = cfg["docs"]
    texts: list[str] = []
    kinds: list[str] = []
    family: dict[int, list[int]] = {}  # fresh doc -> its exact and near copies
    near_of: dict[int, int] = {}
    fresh: list[int] = []
    for doc_id in range(n):
        r = rng.random()
        # copies are only ever made of fresh documents, so duplicate
        # groups are stars, never chains
        if fresh and r < cfg["exact_dup_share"]:
            src = rng.choice(fresh)
            texts.append(texts[src])
            kinds.append("exact")
            family[src].append(doc_id)
        elif fresh and r < cfg["exact_dup_share"] + cfg["near_dup_share"]:
            src = rng.choice(fresh)
            words = texts[src].split(" ")
            for _ in range(cfg["near_dup_edits"]):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
            kinds.append("near")
            family[src].append(doc_id)
            near_of[doc_id] = src
        else:
            k = rng.randint(cfg["words_min"], cfg["words_max"])
            idx = nrng.choice(len(vocab), size=k, p=probs)
            texts.append(" ".join(vocab[i] for i in idx))
            kinds.append("fresh")
            fresh.append(doc_id)
            family[doc_id] = []
    docs = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(_LANGS) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{rng.randrange(8)}" for _ in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    centers = nrng.standard_normal((cfg["topics"], cfg["dim"]))
    labels = nrng.integers(0, cfg["topics"], size=n)
    vecs = centers[labels] + 0.8 * nrng.standard_normal((n, cfg["dim"]))
    for dup, src in near_of.items():
        vecs[dup] = vecs[src] + 0.01 * nrng.standard_normal(cfg["dim"])
        labels[dup] = labels[src]
    vecs = vecs.astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    root.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs, root / "documents.parquet")
    pq.write_table(emb, root / "embeddings.parquet")
    return {
        "dir": str(root),
        "docs": n,
        "records": 2 * n,
        "exact_dups": kinds.count("exact"),
        "near_dups": kinds.count("near"),
        # every pair inside one family (a fresh doc and its copies) is a
        # planted duplicate pair
        "planted_pairs": [
            (a, b)
            for src, copies in family.items()
            for k, a in enumerate([src, *copies])
            for b in copies[k:]
        ],
    }


# --------------------------------------------------------------------------
# stream_replay: an events feed of time-ordered parquet files
# --------------------------------------------------------------------------

FEED = {
    "files": 12,
    "rows_per_file": 1000,
    "users": 1500,
}
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_FEED_START = datetime(2024, 1, 1)


def gen_feed(seed: int, root: Path) -> dict:
    """Write ``root/part-NNNNN.parquet``, one file per micro-batch, in the
    events testdata schema, with strictly increasing mtimes (the file
    source consumes the oldest file first).

    File ``i`` draws its user ids from the first ``users * (i + 1) / files``
    keys, so most keys recur across batches (state is read, updated and
    written back) while new keys keep arriving (state grows through the run).
    """
    cfg = FEED
    rng = random.Random(seed)
    nrng = np.random.default_rng(rng.getrandbits(63))
    rows = cfg["rows_per_file"]
    root.mkdir(parents=True, exist_ok=True)
    base = _FEED_START.timestamp()
    for i in range(cfg["files"]):
        hi = max(1, cfg["users"] * (i + 1) // cfg["files"])
        ts0 = int((base + i * 3600) * 1_000_000)
        table = pa.table(
            {
                "event_id": pa.array(np.arange(i * rows, (i + 1) * rows), pa.int64()),
                "ts": pa.array(
                    np.sort(ts0 + nrng.integers(0, 3_600_000_000, size=rows)),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(nrng.integers(0, hi, size=rows), pa.int64()),
                "event_type": pa.array(
                    [_EVENT_TYPES[j] for j in nrng.integers(0, 5, size=rows)], pa.string()
                ),
                "value": pa.array(np.round(nrng.uniform(0, 200, size=rows), 2), pa.float64()),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in nrng.integers(0, 100, size=rows)], pa.string()
                ),
            }
        )
        path = root / f"part-{i:05d}.parquet"
        pq.write_table(table, path)
        stamp = base + i
        os.utime(path, (stamp, stamp))
    return {
        "dir": str(root),
        "files": cfg["files"],
        "records": cfg["files"] * rows,
        "users": cfg["users"],
        "ts_span": str(timedelta(hours=cfg["files"])),
    }


GENERATORS = {
    "sparkify_etl": gen_sparkify,
    "curation": gen_corpus,
    "stream_replay": gen_feed,
}
