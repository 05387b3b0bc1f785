#!/usr/bin/env python3
"""Regenerate PLANS.md from `sbt "runMain graft.Explain <sfDir>"` output.

Usage:
  sbt -batch "runMain graft.Explain /root/testdata/sf0.01" 2>/dev/null > /tmp/explain_all.txt
  python3 tools/make_plans.py /tmp/explain_all.txt > PLANS.md

  python3 tools/make_plans.py --check /tmp/explain_all.txt
      Rebuild the table in memory and diff it against the repo's
      PLANS.md. Prints every line that differs (`-` as committed, `+`
      as rebuilt) and exits 1 on any difference, 0 when PLANS.md is
      byte-identical.
"""
import argparse
import difflib
import os
import re
import sys

PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")


def render(path):
    txt = open(path).read()
    # strip sbt's "[info] " prefixes if present
    txt = re.sub(r"^\[info\] ", "", txt, flags=re.M)
    sections = re.split(r"^========== (\S+) ==========$", txt, flags=re.M)
    rows = []
    for i in range(1, len(sections), 2):
        name, body = sections[i], sections[i + 1]
        # count nodes from the FINAL plan tree only: an executed AQE
        # query's formatted explain appends the "== Initial Plan =="
        # subtree (whose duplicated exchanges never ran) and numbers
        # its nodes in the same detail list — counting those would
        # double every shuffle. Tree lines read "... Exchange (11)";
        # \b keeps Reused/BroadcastExchange from matching "Exchange".
        tree = body.split("== Initial Plan ==")[0]
        def nodes(name):
            return len(re.findall(r"\b" + name + r" \(\d+\)", tree))
        shuffles = nodes("Exchange")
        bcasts = nodes("BroadcastExchange")
        reused = nodes("ReusedExchange")
        smj = nodes("SortMergeJoin")
        bnlj = nodes("BroadcastNestedLoopJoin")
        cart = nodes("CartesianProduct")
        pushed = "yes" if re.search(r"PushedFilters: \[(?!\])", body) else "—"
        read_cols = [len(m.split(",")) for m in
                     re.findall(r"ReadSchema: struct<([^>]*)>", body) if m]
        cols = f"≤{max(read_cols)}" if read_cols else "—"
        rows.append((name, shuffles, bcasts, reused, smj, bnlj, cart, pushed, cols))

    total_cart = sum(r[6] for r in rows)
    out = [
        "# PLANS — plan audit evidence (auto-generated by graft.Explain at sf0.01)",
        "",
        "Per query: shuffle/broadcast/join counts, pushdown and pruning",
        "evidence. Regenerate with `sbt \"runMain graft.Explain <sfDir>\"` and",
        f"`tools/make_plans.py`. {len(rows)} queries; **{'zero' if total_cart == 0 else total_cart} CartesianProduct**",
        "anywhere (the quadratic dedup baselines are key-ordered",
        "BroadcastNestedLoopJoins by construction). Counts come from the",
        "FINAL adaptive plan of an EXECUTED run (graft.Explain runs each",
        "query via toRdd.count before printing), so AQE's runtime",
        "exchange reuse is reflected honestly: `reused` counts",
        "ReusedExchange nodes that replaced a duplicated subtree at",
        "runtime, and `shuffles` counts only exchanges that actually",
        "ran — note some (e.g. the two-phase rank's pid-offset pair) move",
        "partition-count-sized rows, not data. ANN",
        "top-k queries plan through the custom TopKPerGroupPartial/Final",
        "bounded-heap operators — no per-group SortExec.",
        "",
        "| query | shuffles | broadcasts | reused | SMJ | BNLJ | cartesian | pushed filters | read columns |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in sorted(rows):
        out.append("| " + " | ".join(str(x) for x in r) + " |")
    return "\n".join(out) + "\n"


def check(explain, plans):
    """print the lines where `plans` differs from the rebuilt table;
    1 on any difference, else 0"""
    committed = open(plans).read()
    rebuilt = render(explain)
    if committed == rebuilt:
        return 0
    for line in difflib.unified_diff(committed.splitlines(), rebuilt.splitlines(),
                                     plans, "rebuilt", n=0, lineterm=""):
        if not line.startswith("@@"):
            print(line)
    return 1


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("explain", help="graft.Explain output")
    ap.add_argument("--check", action="store_true",
                    help="diff the rebuilt table against PLANS.md instead of printing it")
    args = ap.parse_args(argv)
    if args.check:
        return check(args.explain, PLANS)
    sys.stdout.write(render(args.explain))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
