#!/usr/bin/env python3
"""Count the codegen-cache keys of each query in a graft.Profile run.

Spark's codegen cache is keyed by (context classloader, class body): a
whole-stage class compiled on the driver and again in a task is two keys.
Run Profile with a one-entry cache, so every lookup compiles and logs its
class body, and the CodeGenerator logger at DEBUG:

    java ... -Dspark.sql.codegen.cache.maxEntries=1 \\
      -Dspark.sql.codegen.logging.maxLines=100000 \\
      -Dlog4j2.configurationFile=tools/log4j2-codegen.properties \\
      -Dcodegen.level=debug \\
      graft.Profile <sfDir> 2 q1,q2,... > run.log 2>&1
    python3 tools/codegen_keys.py run.log

For every (rep, query) it prints the lookups, the distinct keys (driver or
task thread, body), the keys not already used earlier in the same rep, the
summed `Code generated in` time and the kinds of class. Rep 2 of a
rep-major run is the warm pass. With the logger at INFO and the default
cache the same summing gives the compile time a real run pays.
"""
import collections
import hashlib
import re
import sys

STAMP = re.compile(r"^\d\d:\d\d:\d\d\.\d+ ")
BODY = re.compile(r"^\d\d:\d\d:\d\d\.\d+ DEBUG CodeGenerator \[(.*?)\]: $")
TIME = re.compile(r"^\d\d:\d\d:\d\d\.\d+ INFO CodeGenerator \[.*?\]: Code generated in ([\d.]+) ms")
REP = re.compile(r"^PROFILE (\S+) rep(\d+) ")
CLASS = re.compile(r"return new (\w+)\(references\)")


def parse(lines):
    """(rep, query) -> (list of (side, digest, kind), compile ms), in order."""
    out = collections.OrderedDict()
    keys, ms = [], 0.0
    i = 0
    while i < len(lines):
        m = BODY.match(lines[i])
        if m:
            body = []
            i += 1
            while i < len(lines) and not STAMP.match(lines[i]) and not REP.match(lines[i]):
                body.append(lines[i])
                i += 1
            text = "\n".join(body)
            side = "task" if "Executor task launch" in m.group(1) else "driver"
            c = CLASS.search(text)
            kind = c.group(1) if c else "SpecificColumnarIterator"
            if kind.startswith("GeneratedIterator"):
                kind = "WholeStage"
            keys.append((side, hashlib.sha1(text.encode()).hexdigest(), kind))
            continue
        t = TIME.match(lines[i])
        if t:
            ms += float(t.group(1))
        r = REP.match(lines[i])
        if r:
            out[(int(r.group(2)), r.group(1))] = (keys, ms)
            keys, ms = [], 0.0
        i += 1
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1], errors="replace") as fh:
        runs = parse(fh.read().split("\n"))
    for rep in sorted({r for r, _ in runs}):
        seen = set()
        for (r, q), (keys, ms) in runs.items():
            if r != rep:
                continue
            distinct = {(s, d): k for s, d, k in keys}
            new = set(distinct) - seen
            seen |= set(distinct)
            kinds = collections.Counter(distinct.values())
            print(f"rep{rep} {q}: lookups {len(keys)} keys {len(distinct)} "
                  f"new {len(new)} compile {ms:.0f} ms  "
                  + " ".join(f"{k}:{n}" for k, n in sorted(kinds.items())))
        print(f"rep{rep} pass: {len(seen)} distinct keys")


if __name__ == "__main__":
    main()
