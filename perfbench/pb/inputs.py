"""Seeded input generators. The same seed always yields the same inputs;
the program under test only ever sees the files written here."""
import datetime
import math
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SLOT_S = 900
# 04:15 UTC: the backlog runs through the morning ramp of the day cycle, and
# a quarter past the hour is where the pipeline's bootstrap (the hour of
# "now" minus 45 minutes) can land on it
SLOT_START = int(datetime.datetime(2024, 6, 13, 4, 15,
                                   tzinfo=datetime.timezone.utc).timestamp())
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# Sizes of the generated traffic. None is taken from a published figure of
# the reference's product: they are assumptions, sized so that a run fits
# its time budget (perfbench/NOTES.md, "Input sizes").
SLOT_BASE_ROWS = 600      # source rows of a slot at the day cycle's mean
ROW_GROUP_ROWS = 8192     # parquet row group of the slot source
DEDUP_BATCHES = 9         # > bucketCompactMaxFiles (8): compaction fires
DOCS_PER_BATCH = 20
DUP_SHARE = 0.2           # planted near-duplicates in each later batch
MIN_WORDS = 20            # fixture documents shorter than this are skipped


def slot_counts(seed, slots):
    """Rows per 15-minute slot: a day/night cycle (peak mid-afternoon,
    trough before dawn) with +-20% seeded jitter."""
    rnd = random.Random(seed)
    counts = []
    for i in range(slots):
        hour = ((SLOT_START + i * SLOT_S) % 86400) / 3600.0
        cycle = 1.0 + 0.6 * math.sin(2 * math.pi * (hour - 9.0) / 24.0)
        counts.append(max(1, round(SLOT_BASE_ROWS * cycle * rnd.uniform(0.8, 1.2))))
    return counts


def write_slot_source(path, seed, counts):
    """The pipeline's source table: `counts[i]` events inside slot i,
    sorted by time, as one parquet file."""
    rnd = random.Random(seed ^ 0x5EED)
    ids, ts, users, types, values, props = [], [], [], [], [], []
    eid = 0
    for i, n in enumerate(counts):
        lo_us = (SLOT_START + i * SLOT_S) * 1_000_000
        stamps = sorted(lo_us + rnd.randrange(SLOT_S * 1_000_000)
                        for _ in range(n))
        for t in stamps:
            ids.append(eid)
            eid += 1
            ts.append(t)
            users.append(rnd.randrange(1, 501))
            types.append(rnd.choice(EVENT_TYPES))
            values.append(round(rnd.uniform(0, 100), 2))
            props.append('{"k": %d}' % rnd.randrange(100))
    table = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types, pa.string()),
        "value": pa.array(values, pa.float64()),
        "props": pa.array(props, pa.string()),
    })
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def shingles(words, n=2):
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a | b else 1.0


def dedup_stream(fixture_docs, seed):
    """A document stream in DEDUP_BATCHES batches. Fresh documents are
    word-shuffled copies of fixture documents (no shared bigram runs, so no
    accidental near-duplicates); a seeded share of every batch after the
    first are near-duplicates of fresh documents from earlier batches, with
    word-bigram Jaccard >= 0.8 (the ingest threshold is 0.6).
    Returns (rows, planted_ids) with rows = [(doc_id, text, batch)]."""
    rnd = random.Random(seed)
    texts = [t for (t,) in duckdb.sql(
        f"SELECT text FROM '{fixture_docs}' ORDER BY doc_id").fetchall()]
    pool = [t.split() for t in texts if len(t.split()) >= MIN_WORDS]
    rnd.shuffle(pool)
    vocab = sorted({w for ws in pool for w in ws})
    rows, planted, fresh_by_batch = [], set(), []
    next_id = 0
    for b in range(DEDUP_BATCHES):
        fresh_here = []
        n_dups = 0 if b == 0 else round(DOCS_PER_BATCH * DUP_SHARE)
        for _ in range(DOCS_PER_BATCH - n_dups):
            words = pool.pop()[:]
            rnd.shuffle(words)
            rows.append((next_id, " ".join(words), b))
            fresh_here.append(words)
            next_id += 1
        earlier = [w for ws in fresh_by_batch for w in ws]
        for _ in range(n_dups):
            src = rnd.choice(earlier)
            while True:
                words = src[:]
                for _ in range(max(1, len(words) // 25)):
                    words[rnd.randrange(len(words))] = rnd.choice(vocab)
                if jaccard(shingles(words), shingles(src)) >= 0.8:
                    break
            rows.append((next_id, " ".join(words), b))
            planted.add(next_id)
            next_id += 1
        fresh_by_batch.append(fresh_here)
    # ids carry no hint of which documents are planted
    perm = list(range(next_id))
    rnd.shuffle(perm)
    rows = [(perm[i], t, b) for i, t, b in rows]
    return rows, {perm[i] for i in planted}


def write_docs(path, rows):
    ids, texts, batches = zip(*rows)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "batch": pa.array(batches, pa.int64()),
    }), path)
