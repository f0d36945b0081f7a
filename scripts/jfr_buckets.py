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


def samples(lines, window):
    """Yield (time, kind, bucket, graft method, in window method) per sample."""
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
                f.split("(", 1)[0].endswith(window) for f in frames)
            yield t, k, bucket(frames), graft_method(frames), hit


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--window", help="count only samples between the first and last "
                    "main-thread sample with this Class.method on the stack")
    ap.add_argument("--top", type=int, default=12, help="graft methods listed per thread kind")
    args = ap.parse_args(argv[1:])
    rows = list(samples(sys.stdin, args.window))
    if args.window:
        hits = [t for t, _, _, _, h in rows if h and t is not None]
        if not hits:
            sys.exit(f"jfr_buckets: no main-thread sample has {args.window} on its stack")
        lo, hi = min(hits), max(hits)
        rows = [r for r in rows if r[0] is not None and lo <= r[0] <= hi]
        print(f"window {args.window}: {lo.time()} .. {hi.time()} "
              f"({(hi - lo).total_seconds():.3f} s), {len(rows)} samples")
    else:
        print(f"{len(rows)} samples")
    counts = collections.Counter((k, b) for _, k, b, _, _ in rows)
    names = [b for b, _ in BUCKETS] + ["other"]
    width = max(len(n) for n in names)
    print(f"{'bucket':<{width}} " + " ".join(f"{k:>9}" for k in KINDS) + f" {'all':>9}")
    for b in names + ["total"]:
        cells = [sum(counts[(k, x)] for x in names) if b == "total" else counts[(k, b)]
                 for k in KINDS]
        print(f"{b:<{width}} " + " ".join(f"{c:>9}" for c in cells) + f" {sum(cells):>9}")
    for k in KINDS:
        methods = collections.Counter(g for _, kk, _, g, _ in rows if kk == k)
        if methods:
            print(f"\n{k}: innermost graft.* method")
            for g, c in methods.most_common(args.top):
                print(f"  {c:>7}  {g}")


if __name__ == "__main__":
    main(sys.argv)
