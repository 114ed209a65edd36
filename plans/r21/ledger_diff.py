"""Compares two `graft.tools.Profile --reps N` job ledgers, rep 2 on.

Usage: python3 ledger_diff.py <before.txt> <after.txt>

A copy of plans/r20/ledger_diff.py with two more folds, for a change that
moves code within files: call-site line numbers are dropped (`Dedup.scala:452`
and `Dedup.scala:274` are the same site when the def moved), and every
`localCheckpoint at ...` job counts as a cut, not only Materialize's
(`clusterPairsStar` checkpoints its edge set and each round itself).

Rep 1 is skipped: the first read of a catalog table in a JVM carries its
one schema-inference job. A job that ends together with an AQE stage
future is labelled either with its own call site (a cut, `save at
QueryProfile.scala`) or with the stage future's, at random, and the two
may swap places in end order. So a ledger pair is reported as
  - identical: same call sites (line numbers dropped) in the same order;
  - label flicker only: same job count, and the same call sites once
    cut, save and stage-future labels are folded into one;
  - DIFFER: anything else, with the per-site count changes.
"""
import collections
import re
import sys

FOLDED = ("localCheckpoint at ",
          "save at QueryProfile.scala",
          "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java")


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
            out[cur].append(re.sub(r"(\.scala|\.java):\d+", r"\1", m.group(1)))
    return out


def fold(sites):
    return collections.Counter(
        "<cut, save or stage future>" if s.startswith(FOLDED) else s
        for s in sites)


def main(before_path, after_path):
    before, after = ledgers(before_path), ledgers(after_path)
    same = True
    for key in sorted(set(before) | set(after)):
        query, rep = key
        if rep < 2:
            continue
        b, a = before.get(key, ["MISSING"]), after.get(key, ["MISSING"])
        if b == a:
            verdict = "identical"
        elif fold(b) == fold(a):
            verdict = "label flicker only"
        else:
            fb, fa = fold(b), fold(a)
            delta = {s: fa[s] - fb[s] for s in set(fb) | set(fa) if fa[s] != fb[s]}
            verdict = "DIFFER " + ", ".join(f"{s}: {n:+d}" for s, n in sorted(delta.items()))
            same = False
        print(f"{query} rep{rep}: before {len(b)} jobs, after {len(a)} jobs, {verdict}")
    print("all rep 2+ ledgers match up to label flicker" if same
          else "some rep 2+ ledgers differ")


if __name__ == "__main__":
    main(*sys.argv[1:3])
