#!/usr/bin/env python3
"""Per-query-kind medians of a traced serving run.

    python3 tools/kind_medians.py SPANS_JSONL [SPANS_JSONL ...]

Reads the spans a `perfbench/run.py --trace 1` run leaves in
`.bench_build/results/<workload>-<seed>-t1.spans.jsonl` and prints, for each
query kind, the number of traced queries and the median milliseconds of
`hybrid.serve` and of each leg span (`vector.serve`, `text.serve`,
`filter.serve`), plus `fusion_self`: `hybrid.serve` minus the vector and
text leg spans of the same query, which is how perfbench derives
`hybrid.fusion_self_ms`.

The single client's request `i` runs query `i % 20000` of perfbench's
20,000-query stream (`Serve.run` in perfbench/src/main/scala/perfbench/
Serve.scala), and query `j` of that stream has kind `QueryKinds(j % 6)`
(`Gen.queries` and `Gen.QueryKinds` in
perfbench/src/main/scala/perfbench/Gen.scala). 20,000 is not a multiple of
6, so a plain `i % 6` would mislabel every request after the first wrap.

Those two constants are copied from perfbench, so the script checks them on
every run: a query of each kind calls exactly the legs its parts name
(`Serve.Legs.probe`: `vector.serve` for a vector, `text.serve` for a text,
`filter.serve` for a filter), and a request whose leg spans differ from its
kind's stops the script with an error instead of being counted under the
wrong kind. Every shift of the kind cycle puts some kind on a request with
other legs, so a stale kind list or stream length fails at once.
"""
import json
import statistics
import sys

# perfbench/src/main/scala/perfbench/Gen.scala, Gen.QueryKinds
QUERY_KINDS = ["vector", "text", "hybrid", "hybrid_cat", "hybrid_price",
               "vector_cat"]
# perfbench/src/main/scala/perfbench/Serve.scala, ctx.gen.queries("serve-queries", 20000)
STREAM = 20000
SPANS = ["hybrid.serve", "vector.serve", "text.serve", "filter.serve"]
# the leg spans each kind's query calls (Gen.queries gives each kind its
# vector, text and filter parts)
LEGS = {
    "vector": {"vector.serve"},
    "text": {"text.serve"},
    "hybrid": {"vector.serve", "text.serve"},
    "hybrid_cat": {"vector.serve", "text.serve", "filter.serve"},
    "hybrid_price": {"vector.serve", "text.serve", "filter.serve"},
    "vector_cat": {"vector.serve", "filter.serve"},
}


def kind_of(request):
    return QUERY_KINDS[(request % STREAM) % len(QUERY_KINDS)]


def medians(path):
    """{kind: {column: median ms}} and {kind: traced query count}."""
    ms = {}  # (kind, span name) -> [ms]
    per_request = {}  # request -> {span name: ms}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            s = json.loads(line)
            if s["name"] not in SPANS:
                continue
            t = (s["end_ns"] - s["start_ns"]) / 1e6
            ms.setdefault((kind_of(s["request"]), s["name"]), []).append(t)
            per_request.setdefault(s["request"], {})[s["name"]] = t
    for req, spans in per_request.items():
        if "hybrid.serve" not in spans:
            continue
        legs = set(spans) - {"hybrid.serve"}
        if legs != LEGS[kind_of(req)]:
            sys.exit("%s: request %d, labelled %s, ran legs %s: the kind list "
                     "or stream length no longer matches perfbench"
                     % (path, req, kind_of(req), sorted(legs)))
    fusion = {}
    for req, spans in per_request.items():
        if all(n in spans for n in ("hybrid.serve", "vector.serve", "text.serve")):
            fusion.setdefault(kind_of(req), []).append(
                spans["hybrid.serve"] - spans["vector.serve"] - spans["text.serve"])
    out, counts = {}, {}
    for kind in QUERY_KINDS:
        row = {n: statistics.median(ms[(kind, n)]) for n in SPANS if (kind, n) in ms}
        if kind in fusion:
            row["fusion_self"] = statistics.median(fusion[kind])
        if row:
            out[kind] = row
            counts[kind] = len(ms.get((kind, "hybrid.serve"), []))
    return out, counts


def main(paths):
    cols = SPANS + ["fusion_self"]
    for path in paths:
        table, counts = medians(path)
        print(path)
        print("| kind | queries | " + " | ".join(cols) + " |")
        print("|---|---:|" + "---:|" * len(cols))
        for kind in QUERY_KINDS:
            if kind not in table:
                continue
            cells = ["%.3f" % table[kind][c] if c in table[kind] else "-" for c in cols]
            print("| %s | %d | %s |" % (kind, counts[kind], " | ".join(cells)))
        print()


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
