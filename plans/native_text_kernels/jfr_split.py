#!/usr/bin/env python3
"""Executor CPU split of a JFR recording, by what the sampled stack runs.

    jfr print --events jdk.ExecutionSample --stack-depth 200 rec.jfr > rec.txt
    python3 jfr_split.py rec.txt

Counts the execution samples of Spark's task threads ("Executor task
launch worker ...") and prints each category's share: the first category,
in the order below, that any frame of the sample's stack matches.
"""
import re
import sys

CATEGORIES = [
    ("java.util.regex (split, regexp_extract_all)", re.compile(r"java\.util\.regex\.")),
    ("native text kernels (TokenSplit, TokenWindows)", re.compile(r"graft\.functions\.TextKernels")),
    ("lower (case mapping)", re.compile(r"toLowerCase|com\.ibm\.icu\.|CollationSupport")),
    ("md5 (MinHashSig, h60)", re.compile(r"MinHashSig|sun\.security\.provider\.(MD5|DigestBase)")),
    ("parquet scan", re.compile(r"org\.apache\.parquet\.|VectorizedParquet|ParquetFileFormat")),
    ("shuffle write/read", re.compile(r"org\.apache\.spark\.shuffle\.|UnsafeShuffleWriter|ShuffleExternalSorter|BlockStoreShuffleReader")),
    ("aggregate (collect_list, array_distinct)", re.compile(r"ObjectHashAggregate|SortBasedAggregator|TypedImperativeAggregate|ArrayDistinct|Collect")),
]


def main(path):
    counts = {name: 0 for name, _ in CATEGORIES}
    other = total = 0
    thread, frames, in_stack = None, [], False
    with open(path) as f:
        for line in f:
            s = line.strip()
            if s.startswith("sampledThread"):
                thread = s
            elif s.startswith("stackTrace = ["):
                in_stack, frames = True, []
            elif in_stack and s == "]":
                in_stack = False
                if thread and "Executor task launch worker" in thread:
                    total += 1
                    for name, rx in CATEGORIES:
                        if any(rx.search(fr) for fr in frames):
                            counts[name] += 1
                            break
                    else:
                        other += 1
                thread = None
            elif in_stack:
                frames.append(s)
    print(f"executor samples: {total}")
    for name, _ in CATEGORIES:
        print(f"  {100 * counts[name] / max(total, 1):5.1f} %  {name}")
    print(f"  {100 * other / max(total, 1):5.1f} %  other")


if __name__ == "__main__":
    main(sys.argv[1])
