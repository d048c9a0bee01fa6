#!/usr/bin/env python3
"""The codegen working set of each op of a marked Spark run.

Reads a log that holds Spark's `CodeGenerator` DEBUG records (one per
compiled class: its source, every line prefixed `/* NNN */`) and marker
records `@@PART <name> op=<i>` / `@@END` that bracket each timed call. The
log's pattern must start every record with `[%t] %c{1}: `, e.g.

    appender.cg.layout.pattern = [%t] %c{1}: %m%n

Prints, per (op, part) and per op (the union of its parts):
  sources   distinct generated sources, line-number prefixes stripped
  entries   distinct (thread kind, source) pairs, the thread kind being
            `task` for an executor task thread and `driver` otherwise:
            Spark keys its class cache by (context class loader, source)
            and the two kinds of thread have different loaders
  compiles  compiled classes (with a one-entry cache, every use compiles)

A marker without `op=` names a part of the op of the marker before it, so
a call can be split further. Compiles outside any marker are counted under
op `-`, part `-`. `--list` adds one line per distinct source of each part:
its generated class, the thread kinds that compiled it, and a short hash.
`--ms` adds each part's Janino milliseconds, summed over its compiles, and
with `--list` each source's mean milliseconds per compile: the time of the
`Code generated in N ms` record (INFO, same logger) that follows the source
on the same thread. Sources are not equal: a large whole-stage class can
cost 15 times a sort stage's.

Usage: python3 tools/codegen_set.py <log> [--op N] [--list] [--ms]
"""
import argparse
import hashlib
import re
import sys
from collections import defaultdict

HEADER = re.compile(r"^\[(?P<thread>.+?)\] (?P<logger>[\w$.]+): (?P<msg>.*)$")
MARK = re.compile(r"^@@PART (?P<part>\S+)(?: op=(?P<op>\S+))?")
PREFIX = re.compile(r"^/\* \d+ \*/ ?")
GENERATED = re.compile(r"^Code generated in (?P<ms>[\d.]+) ms")


def records(lines):
    """(thread, logger, first line, continuation lines) per log record."""
    cur = None
    for line in lines:
        line = line.rstrip("\n")
        m = HEADER.match(line)
        if m:
            if cur:
                yield cur
            cur = (m["thread"], m["logger"], m["msg"], [])
        elif cur:
            cur[3].append(line)
    if cur:
        yield cur


def thread_kind(thread):
    return "task" if thread.startswith("Executor task launch") else "driver"


def parse(lines):
    """{(op, part): [[thread kind, source, ms]]}, one item per compile; ms is
    None until the compile's `Code generated` record is seen."""
    out = defaultdict(list)
    where = ("-", "-")
    last_op = "-"
    pending = {}  # thread -> its last compile still waiting for its time
    for thread, logger, msg, body in records(lines):
        if logger == "probe" or msg.startswith("@@"):
            m = MARK.match(msg)
            if m:
                last_op = m["op"] or last_op
                where = (last_op, m["part"])
            elif msg.startswith("@@END"):
                where = ("-", "-")
            continue
        if logger != "CodeGenerator":
            continue
        g = GENERATED.match(msg)
        if g:
            if thread in pending:
                pending.pop(thread)[2] = float(g["ms"])
            continue
        src = [l for l in body if l.startswith("/* ")]
        if msg.strip() or not src:
            continue
        source = "\n".join(PREFIX.sub("", l) for l in src)
        item = [thread_kind(thread), source, None]
        out[where].append(item)
        pending[thread] = item
    return out


def counts(items):
    return (len({s for _, s, _ in items}), len({(k, s) for k, s, _ in items}), len(items))


def ms_sum(items):
    return sum(m for _, _, m in items if m is not None)


CLASS = re.compile(r"\b(?:final )?class (\w+)")


def describe(source):
    """The generated class name of a source, and a short hash of it."""
    m = CLASS.search(source)
    name = m.group(1) if m else "?"
    return f"{name} {hashlib.sha1(source.encode()).hexdigest()[:8]}"


def op_key(op):
    return (0, int(op)) if op.isdigit() else (1, op)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--op", help="print only this op")
    ap.add_argument("--list", action="store_true",
                    help="list each part's distinct sources")
    ap.add_argument("--ms", action="store_true",
                    help="add Janino milliseconds per part and per source")
    args = ap.parse_args()
    with open(args.log, errors="replace") as f:
        data = parse(f)
    ops = defaultdict(list)
    for (op, part), items in data.items():
        ops[op].append((part, items))
    ms_head = f" {'ms':>9}" if args.ms else ""
    print(f"{'op':>4} {'part':<28} {'sources':>7} {'entries':>7} {'compiles':>8}{ms_head}")

    def ms_col(items):
        return f" {ms_sum(items):9.1f}" if args.ms else ""
    for op in sorted(ops, key=op_key):
        if args.op is not None and op != args.op:
            continue
        union = []
        for part, items in ops[op]:
            union += items
            print(f"{op:>4} {part:<28} {'%7d %7d %8d' % counts(items)}{ms_col(items)}")
            if args.list:
                kinds = defaultdict(set)
                times = defaultdict(list)
                for kind, source, ms in items:
                    kinds[source].add(kind)
                    if ms is not None:
                        times[source].append(ms)
                for source, ks in kinds.items():
                    t = times[source]
                    mean = f" {sum(t) / len(t):.1f} ms" if args.ms and t else ""
                    print(f"{'':>6}{describe(source)} {'+'.join(sorted(ks))}{mean}")
        if op != "-":
            print(f"{op:>4} {'(op)':<28} {'%7d %7d %8d' % counts(union)}{ms_col(union)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
