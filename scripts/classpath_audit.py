#!/usr/bin/env python3
"""Which jars of a runtime classpath the program loads classes from.

    python3 scripts/classpath_audit.py [--classpath CP] [--classpath-json FILE]
        [--dist DIR] LOG_OR_DIR...

Each LOG is a JDK class-load log, written by a JVM started with
`-Xlog:class+load=info,library=info:file=<dir>/cl_%p.txt` (for example
through JAVA_TOOL_OPTIONS in the shell that runs `sbt test`, `sbt run` or
`perfbench/run.py`); a directory stands for every `*.txt` in it. The log
of sbt's own JVM (it loads `xsbt.boot.Boot`) is skipped: it compiles and
runs the test framework, not the engine.
`--classpath-json` reads the `classpath` field of the file that
`perfbench/run.py` leaves at `.bench_build/perfbench/classpath.json`.
Both may repeat; the classpath is the union of all given (the test
classpath, `sbt "export Test/fullClasspath"`, adds test-only jars to the
runtime one).

`--dist` is the directory of the Spark distribution's jars; it defaults to
the directory of the classpath's `spark-core` jar. A jar of `--dist` that
is not on the classpath counts as excluded. Jars are matched by file name:
a JVM that `sbt run`/`runMain` forks loads from copies of the classpath
jars under `target/bg-jobs/`.

Prints three tables:
  1. every classpath jar with the classes the logs show it supplied and
     its central-directory size (the JVM keeps that many bytes on the heap
     for each open jar);
  2. the classpath jars that supplied no class;
  3. the excluded jars that supplied a class, with a few of their classes.
Exits 1 if table 3 is not empty: a JVM of the logs loaded a class that the
classpath no longer has. Last come the native libraries the JVMs loaded
from outside the JDK (with `library=info` in the log selection): a jar
that ships only a native library, such as Netty's epoll transport for one
platform, supplies no class and shows there instead.

To re-derive the exclusions in `build.sbt` (after a Spark upgrade, say),
collect logs with the whole distribution on the classpath, audit them
against that classpath, and read table 2.
"""

import argparse
import collections
import glob
import json
import os
import re
import struct
import sys

LINE = re.compile(r"\]\s(\S+) source: (.*)$")
LIBRARY = re.compile(r"\[library\s*\] Loaded library (\S+?),? handle")
# the random part of the name a library gets when it is unpacked from a jar
TEMP_SUFFIX = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}|\d{10,}")


def jar_of(source):
    """The file name of the jar a `source:` field names, or None."""
    if source.startswith("jar:"):
        source = source[4:].split("!", 1)[0]
    if not source.startswith("file:") or not source.endswith(".jar"):
        return None
    return os.path.basename(source)


def is_jdk_library(path):
    """A library of the JVM itself: a bare name, or next to `libjava`."""
    d = os.path.dirname(path)
    return not d or any(os.path.exists(os.path.join(d, "libjava" + ext))
                        for ext in (".so", ".dylib"))


def loads(paths):
    """({jar file name: {class names}}, {native library}) over every log."""
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.txt"))) if os.path.isdir(p) else [p]
    if not files:
        sys.exit("no class-load logs in %s" % " ".join(paths))
    by_jar = collections.defaultdict(set)
    libraries = set()
    for name in files:
        loaded, libs = [], []
        with open(name, errors="replace") as f:
            for line in f:
                m = LINE.search(line.rstrip("\n"))
                jar = m and jar_of(m.group(2))
                if jar:
                    loaded.append((jar, m.group(1)))
                lib = LIBRARY.search(line)
                if lib and not is_jdk_library(lib.group(1)):
                    libs.append(lib.group(1))
        if any(c == "xsbt.boot.Boot" for _, c in loaded):
            continue
        for jar, c in loaded:
            by_jar[jar].add(c)
        libraries.update(libs)
    return by_jar, libraries


def central_directory_bytes(path):
    """Size of the jar's central directory, from its end records."""
    with open(path, "rb") as f:
        f.seek(0, os.SEEK_END)
        size = f.tell()
        f.seek(max(0, size - 65557))
        tail = f.read()
        end = tail.rfind(b"PK\x05\x06")
        if end < 0:
            return 0
        (cd_size,) = struct.unpack("<I", tail[end + 12:end + 16])
        locator = end - 20
        if locator >= 0 and tail[locator:locator + 4] == b"PK\x06\x07":
            # zip64: the locator points at the zip64 end record
            (offset,) = struct.unpack("<Q", tail[locator + 8:locator + 16])
            f.seek(offset)
            (cd_size,) = struct.unpack("<Q", f.read(56)[40:48])
    return cd_size


def family(jar):
    """`spark-core_2.13-4.1.2.jar` -> `spark-core_2.13`."""
    return re.sub(r"-\d[^-]*(-.*)?\.jar$", "", jar)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--classpath", action="append", default=[],
                    help="os.pathsep-separated entries")
    ap.add_argument("--classpath-json", action="append", default=[],
                    help="perfbench/run.py's classpath.json")
    ap.add_argument("--dist", help="the distribution's jar directory")
    ap.add_argument("logs", nargs="+")
    a = ap.parse_args()
    cps = list(a.classpath)
    for name in a.classpath_json:
        with open(name) as f:
            cps.append(json.load(f)["classpath"])
    if not cps:
        ap.error("give --classpath or --classpath-json")
    path = {}  # classpath jar file name -> its path
    for cp in cps:
        for e in cp.split(os.pathsep):
            if e.endswith(".jar"):
                path.setdefault(os.path.basename(e), e)
    dist = a.dist or next((os.path.dirname(p) for n, p in path.items()
                           if n.startswith("spark-core_")), None)
    if dist is None:
        sys.exit("no spark-core jar on the classpath: pass --dist")
    dist = os.path.realpath(dist)
    excluded = {n for n in os.listdir(dist) if n.endswith(".jar")} - set(path)
    by_jar, libraries = loads(a.logs)

    def cen(n):
        return central_directory_bytes(path[n])

    print("%-64s %8s %12s" % ("classpath jar", "classes", "cen bytes"))
    for n in sorted(path, key=lambda n: (-len(by_jar.get(n, ())), n)):
        print("%-64s %8d %12d" % (n, len(by_jar.get(n, ())), cen(n)))
    unused = [n for n in sorted(path) if not by_jar.get(n)]
    print()
    print("%d of %d classpath jars supplied no class (%d central-directory bytes):"
          % (len(unused), len(path), sum(map(cen, unused))))
    for fam, group in sorted(collections.Counter(map(family, unused)).items()):
        print("  %-60s %d jar%s" % (fam, group, "" if group == 1 else "s"))
    leaks = sorted(j for j in excluded if by_jar.get(j))
    print()
    print("%d excluded jars (%d in %s, not on the classpath) supplied a class%s"
          % (len(leaks), len(excluded), dist, ":" if leaks else ""))
    for n in leaks:
        classes = sorted(by_jar[n])
        print("  %-60s %d: %s" % (n, len(classes), ", ".join(classes[:3])))
    print()
    print("native libraries loaded outside the JDK:")
    for lib in sorted({TEMP_SUFFIX.sub("*", os.path.basename(l)) for l in libraries}):
        print("  " + lib)
    return 1 if leaks else 0


if __name__ == "__main__":
    sys.exit(main())
