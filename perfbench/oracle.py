"""Oracle and checks of the snapshot benchmark.

The oracle is DuckDB SQL over the staged parquet files, computed apart
from graft: for each key the last turn by (turn_idx, ts), the turn count,
the histogram of non-empty tools and the first and last ts. Every check
returns a list of problems (empty = passed), so the negative self-test
can show each one failing.

A snapshot row is compared as a tuple of strings:
(conv_id, last_turn_idx, last_role, last_tool, last_text, turn_count,
 tools, first_ts_ms, last_ts_ms), where tools is `tool:n` joined by `,`
in tool order, or `-` for reads that carry no histogram.
"""
import datetime
import json

import duckdb

ORACLE_SQL = """
WITH t AS (SELECT * FROM read_parquet($files) WHERE epoch_ms(ts) <= $ts_max),
last AS (
  SELECT conv_id, turn_idx, role, tool, text,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC, ts DESC) AS rn
  FROM t),
agg AS (
  SELECT conv_id, count(*) AS n, min(epoch_ms(ts)) AS first_ms, max(epoch_ms(ts)) AS last_ms
  FROM t GROUP BY conv_id),
hist AS (
  SELECT conv_id, string_agg(tool || ':' || c, ',' ORDER BY tool) AS tools
  FROM (SELECT conv_id, tool, count(*) AS c FROM t WHERE tool <> '' GROUP BY conv_id, tool)
  GROUP BY conv_id)
SELECT a.conv_id, l.turn_idx, l.role, l.tool, l.text, a.n, coalesce(h.tools, ''),
       a.first_ms, a.last_ms
FROM agg a JOIN last l ON l.conv_id = a.conv_id AND l.rn = 1
LEFT JOIN hist h ON h.conv_id = a.conv_id
"""

MAX_REPORTED = 5
NO_LIMIT = 2 ** 62


class Oracle:
    """Snapshots of prefixes of one ordered file list, memoised."""

    def __init__(self, files):
        self.files = list(files)
        self.con = duckdb.connect()
        self._memo = {}

    def snapshot(self, n_files=None, ts_max=NO_LIMIT):
        """key -> row tuple over the first n_files files, turns with ts <= ts_max."""
        n = len(self.files) if n_files is None else n_files
        k = (n, ts_max)
        if k not in self._memo:
            rows = self.con.execute(ORACLE_SQL, {"files": self.files[:n], "ts_max": ts_max}).fetchall() \
                if n > 0 else []
            self._memo[k] = {r[0]: tuple(str(x) for x in r) for r in rows}
        return self._memo[k]

    def keys_per_file(self):
        rows = self.con.execute(
            "SELECT filename, list(DISTINCT conv_id) FROM read_parquet($files, filename = true) "
            "GROUP BY filename", {"files": self.files}).fetchall()
        by = {f: set(ks) for f, ks in rows}
        return [by.get(f, set()) for f in self.files]


def without_tools(row):
    return row[:6] + ("-",) + row[7:]


def check_rows(what, got_rows, expected):
    """`got_rows`: row tuples; `expected`: key -> row tuple."""
    problems = []
    seen = {}
    for r in got_rows:
        if r[0] in seen:
            problems.append(f"{what}: key {r[0]} returned twice")
        seen[r[0]] = r
    missing = sorted(set(expected) - set(seen))
    extra = sorted(set(seen) - set(expected))
    if missing:
        problems.append(f"{what}: {len(missing)} missing keys, e.g. {missing[:MAX_REPORTED]}")
    if extra:
        problems.append(f"{what}: {len(extra)} extra keys, e.g. {extra[:MAX_REPORTED]}")
    altered = [k for k in seen if k in expected and seen[k] != expected[k]]
    for k in altered[:MAX_REPORTED]:
        problems.append(f"{what}: row {k} is {seen[k]}, oracle {expected[k]}")
    if len(altered) > MAX_REPORTED:
        problems.append(f"{what}: {len(altered)} altered rows in all")
    return problems


def check_keys(what, got_keys, expected_keys):
    problems = []
    got = list(got_keys)
    if len(set(got)) != len(got):
        problems.append(f"{what}: {len(got) - len(set(got))} keys published more than once")
    missing = sorted(set(expected_keys) - set(got))
    extra = sorted(set(got) - set(expected_keys))
    if missing:
        problems.append(f"{what}: {len(missing)} missing keys, e.g. {missing[:MAX_REPORTED]}")
    if extra:
        problems.append(f"{what}: {len(extra)} extra keys, e.g. {extra[:MAX_REPORTED]}")
    return problems


def check_commits(what, batches, lineage, keys_per_batch):
    """One commit per batch run.

    `batches`: (batch_id, turns) of every micro-batch Spark ran, in order;
    `lineage`: (batch_id, keys) per committed batch from the table's
    lineage; `keys_per_batch`: the distinct keys each batch's files hold.
    """
    problems = []
    ids = [b for b, _ in batches]
    want = list(range(len(keys_per_batch)))
    if ids != want:
        problems.append(f"{what}: batches run {ids[:12]}..., expected 0..{len(want) - 1} once each")
    committed = {}
    for b, n in lineage:
        if b in committed:
            problems.append(f"{what}: batch {b} committed twice")
        committed[b] = committed.get(b, 0) + n
    if sorted(committed) != want:
        problems.append(f"{what}: committed batches {sorted(committed)[:12]}..., "
                        f"expected 0..{len(want) - 1}")
    for b, keys in enumerate(keys_per_batch):
        if b in committed and committed[b] != len(keys):
            problems.append(f"{what}: batch {b} committed {committed[b]} key rows, "
                            f"its input holds {len(keys)} keys")
    return problems


def body_row(body):
    """Snapshot row tuple of a GET /snapshots/{t}/entities/{k} JSON body."""
    d = json.loads(body)

    def ms(s):
        t = datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
        return str((t - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc))
                   // datetime.timedelta(milliseconds=1))
    tools = ",".join(f"{k}:{v}" for k, v in sorted(d.get("tool_counts", {}).items()))
    return (d["conv_id"], str(d["last_turn_idx"]), d["last_role"], d["last_tool"], d["last_text"],
            str(d["turn_count"]), tools, ms(d["first_ts"]), ms(d["last_ts"]))


def check_gets(what, gets, expected):
    """`gets`: (key, status, body); present keys must return their oracle
    row with 200, absent keys 404."""
    problems = []
    for key, status, body in gets:
        if key in expected:
            if status != "200":
                problems.append(f"{what}: {key} answered {status}, expected 200")
            else:
                try:
                    row = body_row(body)
                except (ValueError, KeyError) as e:
                    problems.append(f"{what}: {key} body unreadable ({e})")
                    continue
                if row != expected[key]:
                    problems.append(f"{what}: {key} is {row}, oracle {expected[key]}")
        elif status != "404":
            problems.append(f"{what}: absent key {key} answered {status}, expected 404")
        if len(problems) > MAX_REPORTED:
            break
    return problems
