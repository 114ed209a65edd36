"""Compares two `graft.tools.Profile --reps N` job ledgers, rep 2 on.

Usage: python3 ledger_diff.py <before.txt> <after.txt>

Rep 1 is skipped: the first read of a catalog table in a JVM carries its
one schema-inference job. The last job of a rep is labelled either
`save at QueryProfile.scala:96` or an AQE stage future, at random, so the
two labels are folded into one. When two ledgers differ only in the
number of AQE stage-future jobs, that is said, since q307 and q308 vary
so between the reps of one JVM.
"""
import re
import sys

SAVE = "save at QueryProfile.scala:96"
STAGE_FUTURE = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"


def ledgers(path):
    out, cur = {}, None
    for line in open(path, errors="replace"):
        m = re.match(r"\[profile\] (\S+) rep(\d+): ", line)
        if m:
            cur = (m.group(1), int(m.group(2)))
            out[cur] = ["FAILED"] if "FAILED" in line else []
            continue
        m = re.match(r"\[job\]\s+\d+ id=\s*\d+\s+[\d.]+ ms  (.*)$", line.rstrip("\n"))
        if m and cur:
            out[cur].append(m.group(1))
    for sites in out.values():
        if sites and sites[-1] in (SAVE, STAGE_FUTURE):
            sites[-1] = "<last job: save or stage future>"
    return out


def main(before_path, after_path):
    before, after = ledgers(before_path), ledgers(after_path)
    same = True
    for key in sorted(set(before) | set(after)):
        query, rep = key
        if rep < 2:
            continue
        b, a = before.get(key, ["MISSING"]), after.get(key, ["MISSING"])
        if b == a:
            verdict = "call sites identical"
        elif [s for s in b if s != STAGE_FUTURE] == [s for s in a if s != STAGE_FUTURE]:
            verdict = (f"differ in AQE stage-future jobs only (before {b.count(STAGE_FUTURE)}, "
                       f"after {a.count(STAGE_FUTURE)}); every other call site identical")
        else:
            verdict = "DIFFER"
        same &= b == a
        print(f"{query} rep{rep}: before {len(b)} jobs, after {len(a)} jobs, {verdict}")
    print("all rep 2+ ledgers identical" if same else "some rep 2+ ledgers differ")


if __name__ == "__main__":
    main(*sys.argv[1:3])
