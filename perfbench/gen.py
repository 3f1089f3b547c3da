"""Seeded turn-log generator for the snapshot benchmark.

The program under test only ever sees the parquet files written here, so a
change to the program cannot change its inputs. One log is a time-ordered
sequence of conversation turns:

* conversation sizes are Zipf-skewed (a few hot conversations carry a large
  share of the turns, most are short), so keys recur across micro-batches;
* `ts` strictly increases across the whole log (millisecond resolution, the
  resolution the serving facade's JSON timestamps carry);
* about 1% of turns re-deliver the previous `turn_idx` of their conversation
  with a later `ts` and new text, so the (turn_idx, ts) tie-break matters;
* about a quarter of the turns name a tool.

Files hold contiguous slices of the log and get strictly increasing
modification times, which is the order Spark's file source reads them in.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOOLS = np.array(["search", "browse", "python", "sql", "calc", "image", "files",
                  "shell", "email", "calendar", "maps", "translate"], dtype=object)
VOCAB = np.array(("the a of to and in is for on with as by at from this that it be are was "
                  "snapshot stream replay merge table key turn batch commit state fold "
                  "query user model tool answer question data file read write time value "
                  "order latest event offset checkpoint bucket delta manifest compaction "
                  "serve lookup dump change log record result plan cost job task").split(),
                 dtype=object)
BASE_TS_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("ms", tz="UTC"))])


def make_log(seed, n_turns, n_convs, zipf_s=1.05, prefix="conv", t0_ms=BASE_TS_MS):
    """Return the log as a dict of numpy columns (time order)."""
    rng = np.random.default_rng(seed)
    w = np.arange(1, n_convs + 1, dtype=np.float64) ** -zipf_s
    rank_to_id = rng.permutation(n_convs)
    conv = rank_to_id[rng.choice(n_convs, size=n_turns, p=w / w.sum())]

    order = np.argsort(conv, kind="stable")
    sc = conv[order]
    starts = np.r_[0, np.flatnonzero(sc[1:] != sc[:-1]) + 1]
    group_start = np.repeat(starts, np.diff(np.r_[starts, len(sc)]))
    first = np.zeros(n_turns, dtype=bool)
    first[order[starts]] = True
    dup = (rng.random(n_turns) < 0.01) & ~first
    # running count of non-duplicate turns per conversation, in time order
    nd = (~dup[order]).astype(np.int64)
    cum = np.cumsum(nd)
    before_group = np.r_[0, cum][group_start]
    turn_idx = np.empty(n_turns, dtype=np.int32)
    turn_idx[order] = (cum - before_group - 1).astype(np.int32)

    ts = t0_ms + np.cumsum(rng.integers(1, 40, size=n_turns))
    has_tool = rng.random(n_turns) < 0.25
    tool = np.where(has_tool, TOOLS[rng.integers(0, len(TOOLS), size=n_turns)], "")
    role = np.where(has_tool, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))
    pool = np.array([" ".join(VOCAB[rng.integers(0, len(VOCAB), size=k)])
                     for k in rng.integers(6, 24, size=2048)], dtype=object)
    pick = rng.integers(0, len(pool), size=n_turns)
    text = [f"{pool[j]} #{i}" for i, j in enumerate(pick)]
    names = np.array([f"{prefix}-{k:07d}" for k in range(n_convs)], dtype=object)
    return {"conv_id": names[conv], "turn_idx": turn_idx, "role": role.astype(object),
            "text": np.array(text, dtype=object), "tool": tool.astype(object), "ts": ts}


def write_files(log, bounds, out_dir, mtime_base, name="part"):
    """Write log slices [bounds[i], bounds[i+1]) as one parquet file each.

    Returns the file paths, in log order. File i gets modification time
    `mtime_base + i` seconds.
    """
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({k: log[k] for k in ("conv_id", "turn_idx", "role", "text", "tool")} |
                     {"ts": pa.array(log["ts"], type=pa.timestamp("ms", tz="UTC"))},
                     schema=SCHEMA)
    paths = []
    for i in range(len(bounds) - 1):
        p = os.path.join(out_dir, f"{name}-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p,
                       compression="snappy")
        t = mtime_base + i
        os.utime(p, (t, t))
        paths.append(p)
    return paths


def even_bounds(n_turns, n_files):
    return [round(i * n_turns / n_files) for i in range(n_files + 1)]
