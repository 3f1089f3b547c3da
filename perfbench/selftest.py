#!/usr/bin/env python3
"""Negative self-test of the benchmark's checks: each check must pass on the
oracle's own answer and fail on a deliberately wrong one (an altered row, a
missing key, an extra dumped key, a duplicated commit, a wrong lookup).

Usage: python3 perfbench/selftest.py   (no JVM, no Spark; a few seconds)
Exits 0 when every check behaves, 1 otherwise.
"""
import datetime
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402


def main():
    work = os.path.join(build.build_dir(), f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    failures = []

    def expect(name, problems, should_fail):
        ok = bool(problems) == should_fail
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {problems[0] if problems else 'passed'}")
        if not ok:
            failures.append(name)

    try:
        log = gen.make_log(seed=5, n_turns=6000, n_convs=300)
        files = gen.write_files(log, gen.even_bounds(6000, 4), work, mtime_base=1_000_000)
        orc = oracle.Oracle(files)
        final = orc.snapshot()
        rows = list(final.values())
        key = sorted(final)[0]
        kpb = orc.keys_per_file()
        batches = [(b, 1500) for b in range(4)]
        lineage = [(b, len(k)) for b, k in enumerate(kpb)]

        expect("table equals oracle", oracle.check_rows("table", rows, final), False)
        altered = [r if r[0] != key else r[:5] + (str(int(r[5]) + 1),) + r[6:] for r in rows]
        expect("altered row", oracle.check_rows("table", altered, final), True)
        expect("missing key", oracle.check_rows("table", [r for r in rows if r[0] != key], final), True)

        expect("dump equals oracle keys", oracle.check_keys("dump", list(final), final.keys()), False)
        expect("extra dumped key", oracle.check_keys("dump", list(final) + ["conv-9999999"], final.keys()),
               True)
        expect("key dumped twice", oracle.check_keys("dump", list(final) + [key], final.keys()), True)

        expect("one commit per batch", oracle.check_commits("commits", batches, lineage, kpb), False)
        expect("duplicated commit", oracle.check_commits("commits", batches, lineage + [lineage[2]], kpb),
               True)
        expect("batch run twice", oracle.check_commits("commits", batches + [batches[3]], lineage, kpb), True)

        r = final[key]

        def iso(ms):
            return datetime.datetime.fromtimestamp(int(ms) / 1000, datetime.timezone.utc) \
                .isoformat(timespec="milliseconds").replace("+00:00", "Z")

        def body(turn_count):
            return json.dumps({
                "conv_id": r[0], "last_turn_idx": int(r[1]), "last_role": r[2], "last_tool": r[3],
                "last_text": r[4], "turn_count": turn_count,
                "tool_counts": {k: int(v) for k, v in (kv.split(":") for kv in r[6].split(",") if kv)},
                "first_ts": iso(r[7]), "last_ts": iso(r[8])})
        good, wrong = body(int(r[5])), body(int(r[5]) + 1)
        expect("lookup equals oracle", oracle.check_gets("get", [(key, "200", good)], final), False)
        expect("lookup of altered row", oracle.check_gets("get", [(key, "200", wrong)], final), True)
        expect("absent key answered 404", oracle.check_gets("get", [("conv-9999999", "404", "")], final), False)
        expect("absent key answered 200", oracle.check_gets("get", [("conv-9999999", "200", good)], final), True)

        half = orc.snapshot(2)
        expect("as-of prefix equals oracle", oracle.check_rows("asof", list(half.values()), half), False)
        expect("as-of answered with the final table", oracle.check_rows("asof", rows, half), True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"selftest: {len(failures)} of the checks misbehaved" if failures else "selftest: all checks behave")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
