"""Seeded input generators. The same seed gives byte-identical files.

pipeline_dag: an events-shaped table (event_id, ts, user_id, event_type,
value, props) where user_id is a video and its rows, ordered by
(ts, event_id), are the video's frames. About 2.0M frames over 210
videos whose lengths are skewed from 2k to 40k frames, so the
per-video, per-scene and per-track groups have stragglers. The videos
are the same for every seed; the seed draws their start times (and so
the row order), event types, values and props. q44 derives scene cuts
every 100 frames from the row order.

query_mix: the tables the query mix reads, shaped like the sf0.1 test
tables (events, orders, lineitem, documents, embeddings), and the list
of queries (queries.txt).
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PIPELINE_VIDEOS = 210  # about 2.0M frames
# One or two queries per family of the catalog: relational (q01, and
# q62, the reference's AVA merge and box audit), windows (q11), the
# pipeline's SQL (q14), text (q20), vector (q52), the streaming
# micro-batch floor (q30) and the write path (q54 CSV roundtrip, q67
# segment sink). perfbench/README.md says why the other queries first
# proposed for the mix are left out.
QUERY_MIX = ("q01", "q62", "q11", "q14", "q20", "q52", "q30", "q54", "q67")
MIN_LEN, MAX_LEN = 2_000, 40_000
EVENT_TYPES = pa.array(["signup", "click", "error", "view", "purchase"])
PROPS = pa.array([f'{{"k": {k}}}' for k in range(100)])
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
MONTH_US = 30 * 86_400 * 1_000_000
WORDS = np.array(("batch part spark line column order small sort fast value scan a hash "
                  "slow group agg filter query big key window row table stream merge data "
                  "the customer vector join").split())


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write(table, path):
    # small row groups, so a scan splits into several tasks per core
    pq.write_table(table, path, row_group_size=32_768, compression="snappy")


def _events(rng, users, n, ts_us):
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": EVENT_TYPES.take(rng.integers(0, 5, n)),
        "value": pa.array(np.round(rng.gamma(1.0, 40.0, n), 2)),
        "props": PROPS.take(rng.integers(0, 100, n)),
    })


def video_lengths(n=PIPELINE_VIDEOS):
    """Skewed lengths in [MIN_LEN, MAX_LEN]: the u**4 quantiles at n
    evenly spaced points, so most videos are short and a few are long.
    They are the same for every seed, which keeps the work per pass
    the same across seeds."""
    u = (np.arange(n) + 0.5) / n
    return (MIN_LEN + (MAX_LEN - MIN_LEN) * u ** 4).astype(np.int64)


def pipeline_dag(seed, out):
    # The videos (ids and lengths) are the same for every seed: q44
    # hash-partitions by video id, so the ids decide which tasks get the
    # long videos, and a per-seed draw moved the pass time by a quarter.
    # Distinct ids below 4294: q44's hash domain is video_id*1e6+frame < 2^32.
    videos = _rng(0, 2)
    lens = videos.permutation(video_lengths())
    vids = videos.choice(4_000, size=len(lens), replace=False)
    users = np.repeat(vids, lens)
    rng = _rng(seed, 2)
    # 25 fps frames from a per-video start; rows stored in global time order
    starts = rng.integers(0, MONTH_US, len(lens))
    frame = np.concatenate([np.arange(n) for n in lens])
    ts = np.repeat(starts, lens) + frame * 40_000
    order = np.argsort(ts, kind="stable")
    _write(_events(rng, users[order], len(users), ts[order]), f"{out}/events.parquet")
    with open(f"{out}/frames.txt", "w") as f:
        f.write(f"{len(users)}\n")
    return {"frames": int(len(users)), "videos": len(lens)}


def query_mix(seed, out):
    rng = _rng(seed, 3)
    n = 100_000
    ts = np.sort(T0_US + rng.integers(0, MONTH_US, n))
    _write(_events(rng, rng.integers(0, 1_500, n), n, ts), f"{out}/events.parquet")

    no = 150_000
    day_us = 86_400 * 1_000_000
    d0 = 788_918_400_000_000  # 1995-01-01
    odate = d0 + rng.integers(0, 2_403, no) * day_us
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64) * 4 + 1),
        "o_custkey": pa.array(rng.integers(0, 15_000, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, no), 2)),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, no)]),
    }), f"{out}/orders.parquet")

    nl = 600_000
    lo = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(lo.astype(np.int64) * 4 + 1),
        "l_partkey": pa.array(rng.integers(0, 20_000, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2_100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(odate[lo] + rng.integers(1, 122, nl) * day_us, type=pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")

    nd = 5_000
    nwords = rng.integers(8, 100, nd)
    words = WORDS[rng.integers(0, len(WORDS), int(nwords.sum()))]
    cuts = np.cumsum(nwords)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(np.array(["en", "en", "en", "es", "fr", "zh", "de"])[rng.integers(0, 7, nd)]),
        "source": pa.array(np.char.add("src", (np.arange(nd) % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }), f"{out}/documents.parquet")

    ne = 2_000
    emb = (rng.standard_normal((ne, 64)) * 0.1).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne).astype(np.int32)),
    }), f"{out}/embeddings.parquet")
    with open(f"{out}/queries.txt", "w") as f:
        f.write(" ".join(QUERY_MIX) + "\n")
    return {"events": n, "orders": no, "lineitem": nl, "documents": nd, "embeddings": ne}


GENERATORS = {"pipeline_dag": pipeline_dag, "query_mix": query_mix}
