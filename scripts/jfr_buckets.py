"""Sort the CPU samples of a JDK Flight Recorder recording into buckets.

    jfr print --stack-depth 400 --events jdk.ExecutionSample REC.jfr \\
        | python3 scripts/jfr_buckets.py --window CurateWorkload.op

Reads the text that `jfr print` writes (the JSON form at this stack depth
runs to about a gigabyte, so the text is streamed line by line and each
sample is kept only as a few fields). With `--window M`, only the samples
between the first and the last main-thread sample that has method `M` on
its stack are counted; `M` is matched against `Class.method` at the end of
each frame's qualified name, e.g. `CurateWorkload.op` or
`Dedup$.nearDupSurvivors`.

Prints the sample counts by thread kind (executor tasks, the main thread,
any other thread) and bucket. A sample goes to the bucket of its innermost
frame that belongs to one; samples with no such frame count as `other`.
Then, per thread kind, the `graft.*` methods with the most samples, each
sample credited to its innermost `graft.*` frame (lambdas to the method
that defines them).

With `--by-line M`, it also credits each main-thread sample that has `M`
on its stack (matched like `--window`) to the source line of the
outermost `M` frame, and prints those samples by line and bucket: which
call in `M` the time goes to, and what it is spent on, e.g.

    ... | python3 scripts/jfr_buckets.py --window ChatWorkload.op \
        --by-line 'Chat$.answer'
"""

import argparse
import collections
import datetime
import re
import sys

# (bucket, frame prefixes); a frame is `package.Class.method(params) line: n`
BUCKETS = [
    ("SizeEstimator", ("org.apache.spark.util.SizeEstimator",)),
    ("ClosureCleaner", ("org.apache.spark.util.ClosureCleaner",
                        "org.apache.spark.util.SparkClosureCleaner")),
    ("Analyzer", ("org.apache.spark.sql.catalyst.analysis.",)),
    ("Optimizer", ("org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.SparkOptimizer")),
    ("codegen", ("org.codehaus.janino.", "org.codehaus.commons.",
                 "org.apache.spark.sql.catalyst.expressions.codegen.")),
    ("serialization", ("org.apache.spark.serializer.", "java.io.ObjectOutputStream",
                       "java.io.ObjectInputStream", "com.esotericsoftware.kryo.")),
    ("Dataset-cache build", ("org.apache.spark.sql.execution.columnar.",)),
]
KINDS = ("executor", "main", "other")

# a sample's time, with the date when `jfr print` gives one
TIME = re.compile(r"startTime = (\d\d):(\d\d):(\d\d)(?:\.(\d+))?(?: \((\d{4})-(\d\d)-(\d\d)\))?")
THREAD = re.compile(r'sampledThread = "(.*)" \(')


def bucket(frames):
    for f in frames:
        for name, prefixes in BUCKETS:
            if f.startswith(prefixes):
                return name
    return "other"


def graft_method(frames):
    """The innermost graft.* frame as Class.method, lambdas folded into
    the method that defines them and private methods unmangled."""
    for f in frames:
        if f.startswith("graft."):
            cls, _, meth = f.split("(", 1)[0].rpartition(".")
            meth = meth.rpartition("$$")[2] or meth  # graft$ops$Dedup$$chunks
            if meth.startswith("$anonfun$"):
                meth = meth[len("$anonfun$"):]
            meth = meth.split("$", 1)[0] or meth
            return f"{cls.rstrip('$')}.{meth}"
    return "(no graft frame)"


def kind(thread):
    if thread.startswith("Executor task launch worker"):
        return "executor"
    return "main" if thread == "main" else "other"


LINE = re.compile(r"line: (\d+)")


def method_of(frame):
    return frame.split("(", 1)[0]


def outer_line(frames, method):
    """The source line of the outermost frame of `method`, or None."""
    for f in reversed(frames):
        if method_of(f).endswith(method):
            m = LINE.search(f)
            return int(m.group(1)) if m else -1
    return None


def samples(lines, window, by_line=None):
    """Yield (time, kind, bucket, graft method, in window method, line of
    the outermost `by_line` frame) per sample."""
    t, thread, frames, in_stack = None, "", [], False
    for line in lines:
        s = line.strip()
        if s == "jdk.ExecutionSample {":
            t, thread, frames, in_stack = None, "", [], False
        elif s.startswith("startTime = "):
            m = TIME.match(s)
            if m:
                hh, mm, ss, frac, y, mo, d = m.groups()
                micros = int((frac or "0").ljust(6, "0")[:6])
                t = datetime.datetime(int(y or 1970), int(mo or 1), int(d or 1),
                                      int(hh), int(mm), int(ss), micros)
        elif s.startswith("sampledThread = "):
            m = THREAD.match(s)
            thread = m.group(1) if m else s
        elif s == "stackTrace = [":
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack:
            if s and s != "...":
                frames.append(s)
        elif line.startswith("}"):
            k = kind(thread)
            hit = bool(window) and k == "main" and any(
                method_of(f).endswith(window) for f in frames)
            line_no = outer_line(frames, by_line) if by_line and k == "main" else None
            yield t, k, bucket(frames), graft_method(frames), hit, line_no


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--window", help="count only samples between the first and last "
                    "main-thread sample with this Class.method on the stack")
    ap.add_argument("--top", type=int, default=12, help="graft methods listed per thread kind")
    ap.add_argument("--by-line", metavar="METHOD", help="split the main-thread samples "
                    "under this Class.method by the line of its outermost frame")
    args = ap.parse_args(argv[1:])
    rows = list(samples(sys.stdin, args.window, args.by_line))
    if args.window:
        hits = [t for t, _, _, _, h, _ in rows if h and t is not None]
        if not hits:
            sys.exit(f"jfr_buckets: no main-thread sample has {args.window} on its stack")
        lo, hi = min(hits), max(hits)
        rows = [r for r in rows if r[0] is not None and lo <= r[0] <= hi]
        print(f"window {args.window}: {lo.time()} .. {hi.time()} "
              f"({(hi - lo).total_seconds():.3f} s), {len(rows)} samples")
    else:
        print(f"{len(rows)} samples")
    counts = collections.Counter((k, b) for _, k, b, _, _, _ in rows)
    names = [b for b, _ in BUCKETS] + ["other"]
    width = max(len(n) for n in names)
    print(f"{'bucket':<{width}} " + " ".join(f"{k:>9}" for k in KINDS) + f" {'all':>9}")
    for b in names + ["total"]:
        cells = [sum(counts[(k, x)] for x in names) if b == "total" else counts[(k, b)]
                 for k in KINDS]
        print(f"{b:<{width}} " + " ".join(f"{c:>9}" for c in cells) + f" {sum(cells):>9}")
    for k in KINDS:
        methods = collections.Counter(g for _, kk, _, g, _, _ in rows if kk == k)
        if methods:
            print(f"\n{k}: innermost graft.* method")
            for g, c in methods.most_common(args.top):
                print(f"  {c:>7}  {g}")
    if args.by_line:
        by = collections.Counter((ln, b) for _, _, b, _, _, ln in rows if ln is not None)
        lines = sorted({ln for ln, _ in by})
        print(f"\nmain: samples by line of the outermost {args.by_line} frame "
              f"({sum(by.values())} samples)")
        short = [n.split()[0][:9] for n in names]
        print(f"{'line':>6} {'all':>7} " + " ".join(f"{n:>9}" for n in short))
        for ln in lines:
            cells = [by[(ln, b)] for b in names]
            print(f"{ln:>6} {sum(cells):>7} " + " ".join(f"{c:>9}" for c in cells))


if __name__ == "__main__":
    main(sys.argv)
