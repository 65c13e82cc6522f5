#!/usr/bin/env python3
"""Counts the JFR execution samples of one perfbench run in its timed window.

    jfr print --json --events jdk.ExecutionSample,jdk.JVMInformation \\
        --stack-depth 96 rec.jfr \\
      | python3 tools/jfr_window.py [--top N] result.json [frame ...]

`result.json` is the run's record (`.bench_build/perfbench/run/<workload>/`).
The timed window starts `setup_wall_s` after the JVM started and lasts the
sum of `pass_s`. For the executor threads (`Executor task launch worker`),
the `main` thread and all others, it prints how many samples fall in the
window and, for each `frame` argument, how many of them hold a frame whose
`package.Class.method` name contains it (`$` dropped, so `SparkPlanInfo`
matches the Scala object's `SparkPlanInfo$`). In an argument, `a|b` matches
either name and `a&b` a stack that holds both. The JSON is read as a
stream: at 96 frames a sample it runs to about 100 KB a sample.

`--top N` also prints, for each thread group, the N frames found in the
most of its timed-window samples (inclusive counts: a frame counts once
per sample that holds it anywhere in its stack, as a `frame` argument
would count it), each with its count and share of the group's samples.
Frames beyond `--stack-depth` are cut off by `jfr print`, so read deep
enough for the frames of interest.
"""
import argparse
import json
import re
import sys
from collections import Counter
from datetime import datetime

KEY = re.compile(r'"(\w+)": (.*?),?$')


def epoch_s(stamp):
    """ISO-8601 UTC time with up to nanoseconds -> seconds since the epoch."""
    head, _, frac = stamp.rstrip("Z").partition(".")
    t = datetime.fromisoformat(head + "+00:00").timestamp()
    return t + (float("0." + frac) if frac else 0.0)


def samples(lines):
    """Yields ("jvm", start_s, None, None) and ("sample", time_s, thread,
    frames) from `jfr print --json` output, tracking the keys of the open
    objects to tell a class's name from a method's."""
    stack, ev = [], None
    for line in lines:
        s = line.strip()
        m = KEY.match(s)
        key, rest = (m.group(1), m.group(2)) if m else (None, s.rstrip(","))
        if rest.endswith("[{"):
            stack += [key, None]
        elif rest.endswith("{") or rest.endswith("["):
            if rest.startswith("}"):  # "}, {": the next element of an array
                stack.pop()
            stack.append(key)
        elif rest.startswith("}") or rest.startswith("]"):
            stack = stack[:-(2 if rest.startswith("}]") else 1)]
        elif key == "type" and rest.startswith('"jdk.'):
            if ev and ev[0] == "sample":
                yield ev
            ev = ["sample" if "ExecutionSample" in rest else "other", None, None, []]
        elif ev is None:
            continue
        elif key == "startTime" and stack[-1] == "values" and ev[1] is None:
            ev[1] = epoch_s(json.loads(rest))
        elif key == "jvmStartTime":
            yield ("jvm", epoch_s(json.loads(rest)), None, None)
        elif key == "javaName" and stack[-1] == "sampledThread":
            ev[2] = json.loads(rest)
        elif key == "name" and stack[-2:] == ["method", "type"]:
            cls = json.loads(rest).replace("/", ".").replace("$", "")
        elif key == "name" and stack[-1] == "method":
            ev[3].append(cls + "." + json.loads(rest).replace("$", ""))
    if ev and ev[0] == "sample":
        yield ev


def group(thread):
    if (thread or "").startswith("Executor task launch worker"):
        return "executor"
    return "main" if thread == "main" else "other"


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("result", help="the run's result.json")
    ap.add_argument("frame", nargs="*", help="a frame name to count samples by")
    ap.add_argument("--top", type=int, default=0, metavar="N",
                    help="print the N frames in the most samples of each thread group")
    args = ap.parse_args(argv[1:])
    res = json.load(open(args.result))
    patterns = args.frame
    counts = {g: [0] * (1 + len(patterns)) for g in ("executor", "main", "other")}
    tops = {g: Counter() for g in counts}
    jvm, pending = None, []
    for kind, t, thread, frames in samples(sys.stdin):
        if kind == "jvm":
            jvm = t
            continue
        pending.append((t, thread, frames))
        if jvm is None:
            continue
        lo = jvm + res["setup_wall_s"]
        hi = lo + sum(res["pass_s"])
        for t, thread, frames in pending:
            if lo <= t <= hi:
                c = counts[group(thread)]
                c[0] += 1
                if args.top:
                    tops[group(thread)].update(set(frames))
                for i, p in enumerate(patterns):
                    c[i + 1] += all(any(a in f for a in term.split("|") for f in frames)
                                    for term in p.split("&"))
        pending = []
    if jvm is None:
        print("no jdk.JVMInformation event: pass it to --events", file=sys.stderr)
        return 1
    for g, c in counts.items():
        hits = " ".join(f"{p}={n} ({n / c[0]:.0%})" if c[0] else f"{p}=0"
                        for p, n in zip(patterns, c[1:]))
        print(f"{g}: {c[0]} samples in the timed window; {hits}")
        for f, n in tops[g].most_common(args.top):
            print(f"  {n:6d} {n / c[0]:4.0%}  {f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
