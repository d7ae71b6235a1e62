#!/usr/bin/env python3
"""Tests for bench_ab.py's Scratch-output parsing (run: python3 this_file).

bench_ab times the base ref with the base ref's own graft.Scratch, so its
parser must read every Scratch line format a base ref can print:
  1. the bare line:             [scratch] run2 q: 1.23 s
  2. with the older suffix:     ... s run=12.34 cpu=10.20
  3. the current listener line: ... s jobs=... spill=...MB, followed by
     per-micro-batch, per-stage and failure lines that carry no timing
All three must yield the same {query: seconds}.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_ab import parse_scratch  # noqa: E402

EXPECTED = {"st8_stream_gold": 3.02, "a25b_kmv_merge": 1.24}

BARE = """\
[scratch] run1 st8_stream_gold: 9.87 s
[scratch] run1 a25b_kmv_merge: 4.56 s
[scratch] run2 st8_stream_gold: 3.02 s
[scratch] run2 a25b_kmv_merge: 1.24 s
"""

OLD_SUFFIX = """\
[scratch] run1 st8_stream_gold: 9.87 s run=40.10 cpu=31.02
[scratch] run1 a25b_kmv_merge: 4.56 s run=20.00 cpu=18.50
[scratch] run2 st8_stream_gold: 3.02 s run=12.34 cpu=10.20
[scratch] run2 a25b_kmv_merge: 1.24 s run=5.01 cpu=4.87
"""

CURRENT = """\
[scratch] run1 st8_stream_gold: 9.87 s jobs=96 stages=140 tasks=2210 \
run=40.10s cpu=31.02s gc=0.40s shuffleR=12.3MB shuffleW=12.3MB spill=0.0MB
[scratch]   batch0 rows=5000 trigger=4100ms addBatch=3900ms getBatch=0ms \
latestOffset=12ms queryPlanning=40ms walCommit=30ms commitOffsets=25ms \
other=93ms
[scratch]   batch1 rows=0 trigger=12ms addBatch=0ms getBatch=0ms \
latestOffset=3ms queryPlanning=0ms walCommit=0ms commitOffsets=0ms other=9ms
[scratch] run1 a25b_kmv_merge failed: boom: 0.5 s
[scratch] run1 a25b_kmv_merge: 4.56 s jobs=4 stages=9 tasks=200 run=20.00s \
cpu=18.50s gc=0.10s shuffleR=1.0MB shuffleW=1.0MB spill=0.0MB
[scratch] run2 st8_stream_gold: 3.02 s jobs=96 stages=140 tasks=2210 \
run=12.34s cpu=10.20s gc=0.12s shuffleR=12.3MB shuffleW=12.3MB spill=0.0MB
[scratch]   batch0 rows=5000 trigger=1100ms addBatch=900ms getBatch=0ms \
latestOffset=12ms queryPlanning=40ms walCommit=30ms commitOffsets=25ms \
other=93ms
[scratch]   stage 2.10s tasks=32  save at Scratch.scala:140 | \
graft.operators.MergeUpsert$.upsertPartitioned(MergeUpsert.scala:120)
[scratch] run2 a25b_kmv_merge: 1.24 s jobs=4 stages=9 tasks=200 run=5.01s \
cpu=4.87s gc=0.02s shuffleR=1.0MB shuffleW=1.0MB spill=0.0MB
[scratch]   stage 1.50s tasks=32  collect at KmvSketch.scala:80 | graft.queries.AggQueries$.a25b(AggQueries.scala:900)
"""


def test_formats_agree():
    for name, text in [("bare", BARE), ("old suffix", OLD_SUFFIX),
                       ("current", CURRENT)]:
        got = parse_scratch(text)
        assert got == EXPECTED, (name, got)


def test_untimed_lines_ignored():
    # batch, stage and failure lines alone yield no timing
    noise = "\n".join(l for l in CURRENT.splitlines()
                      if not l.startswith("[scratch] run")
                      or " failed: " in l)
    assert parse_scratch(noise) == {}, parse_scratch(noise)


if __name__ == "__main__":
    test_formats_agree()
    test_untimed_lines_ignored()
    print("bench_ab tests: OK")
