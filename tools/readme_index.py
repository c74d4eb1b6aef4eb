#!/usr/bin/env python3
"""Regenerate the README query cross-index from source.

Scans src/main/scala/graft for Q("name")/Q.sql("name")/Q.noOracle("name")
registrations (Q.sql is oracled: its SQL text is the oracle),
attaches the nearest preceding survey-row tag comment (e.g. `// X51:` or
`** G22:`), and the test suites under src/test that mention the query by
name. Writes the table between the QUERY_INDEX markers in README.md.
ReadmeIndexSpec asserts the committed table matches the live registry, so
coverage claims stay verifiable as the registry grows.

Usage: python3 tools/readme_index.py [--check]
  --check: exit 1 if README.md is stale instead of rewriting it.
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MAIN = ROOT / "src/main/scala/graft"
TEST = ROOT / "src/test/scala/graft"
BEGIN = "<!-- QUERY_INDEX_BEGIN (generated by tools/readme_index.py) -->"
END = "<!-- QUERY_INDEX_END -->"

QDEF = re.compile(r'Q(?:\.noOracle|\.sql)?\(\s*"([a-z0-9_]+)"')
NO_ORACLE = re.compile(r'Q\.noOracle\(\s*"([a-z0-9_]+)"')
# first survey-row tag on a comment line, in any of the styles the
# sources use: `// X51:`, `** G22+:`, `(X44)`, `X47b:`
TAG = re.compile(r'(?:^\s*(?://+|/?\*+))[^\n]*?\b([GX]\d{1,2}[a-z]?)\b(?=[:\s)+,])')

# survey rows for queries whose source files describe them by name
# rather than by tag (ids per SURVEY.md §2b contract rows)
TAG_OVERRIDES = {
    "ab_test_welch": "X65", "lang_drift_js": "X66",
    "pii_detect": "X17", "pii_scrub": "X17",
    "bloom_semi_reduction": "X39",
    "profile_columns": "X37", "histogram_quantity": "X37",
    "retention_cohorts": "X38", "ewma_user_value": "X38",
    "inverted_index": "X63", "vocab_oov": "X62",
    "contamination_screen": "X35", "training_chunks": "X34",
    "approx_quantiles": "X25", "stat_aggregates": "G25",
    "pivot_events_by_type": "G26",
    # X82's doc block cross-references X80 (the detect step) after its
    # own tag — same steal pattern as best_match_fuzzy below.
    "dup_spans_scrub": "X82",
    # X53's doc block cross-references X21 (the blocking graph) on a
    # later line than its own tag — pin the real row
    "best_match_fuzzy": "X53",
    # X80's doc block cross-references X1 (whole-doc dedup) on a later
    # line than its own tag — same pattern as X53
    "dup_spans": "X80",
    # r07 verdict bookkeeping: these sources tag the nearest FAMILY row
    # (G13 join family, G16 top-k, G26 pivot, X47 co-occurrence) but the
    # §2b contract rows they implement are the specific ones below
    "join_asof": "X16", "join_asof_payload": "X16", "join_asof_bucketed": "X16",
    "pagerank_trade": "X44",
    # the X10b tag on lang_id_confusion is the nearest preceding tag for
    # these three untagged blocks — pin their real §2b rows
    "doc_quality": "X11", "token_count_bpe": "X12", "doc_fingerprint": "X13",
    # VERDICT r08 task 9 (survey-row drift guard): pin every query whose
    # nearest-preceding-tag heuristic lands on a sibling row, so each
    # SURVEY §2b row with registry queries is attributed exactly
    # (ReadmeIndexSpec asserts full §2b coverage from these tags)
    "edit_distance_adjacent": "G28",
    "stream_join_batch_form": "G30", "stream_left_join_batch_form": "G30b",
    "variant_json": "G32",
    "simhash_signatures": "X8", "simhash_near_dup_pairs": "X8",
    "jaccard_adjacent": "X9",
    "lang_id_heuristic": "X10",
    "ann_lsh_topk": "X14", "embedding_near_dup_lsh": "X14",
    "embedding_centroids": "X18", "ann_ivf_topk": "X18",
    "user_profiles_stateful": "X19",
    "quality_gopher_filters": "X22", "boilerplate_ngrams": "X23",
    "cdc_upsert": "X36", "scd2_status_history": "X36",
    "weighted_sample": "X43",
    "triangle_count": "X51",
    "stream_static_enrich": "X52",
    "sessions_stateful_closed": "X30",
    "attribution_last_touch": "X57",
    "pmi_parts": "X64",
    "corpus_mix": "X71", "corpus_mix_temperature": "X71",
    "hll_rolling_users": "X73", "hll_rolling_bound": "X73",
    "subquery_scalar": "G27", "subquery_exists": "G27",
    "topk_per_group_agg": "X29",
}


# SURVEY §2b rows implemented OUTSIDE the query registry (streaming
# ingest, sinks, the CLI): the table gets a PINNED-SURFACE row for each
# (r12 verdict task 4 — X81 was invisible to the index because
# scan_queries only walks Q(...) registrations). The anchor is the first
# main-source line carrying the row ID; specs are test files mentioning
# the ID as a word. ReadmeIndexSpec validates these rows against the
# live sources, so "every §2b row attributed" holds by construction.
PINNED_SURFACES = {
    "G21": ("events readStream (encoding-adaptive ingest)",
            "src/main/scala/graft/streaming/StreamingOps.scala"),
    "G23": ("stateful stream dedup (watermark + RocksDB)",
            "src/main/scala/graft/streaming/StreamingOps.scala"),
    "G24": ("parquet/TSV sink + compaction",
            "src/main/scala/graft/sources/Sinks.scala"),
    "G24b": ("JSONL sink + declared-schema read",
             "src/main/scala/graft/sources/Sinks.scala"),
    "G33": ("WordCount CLI (reference drop-in)",
            "src/main/scala/graft/WordCount.scala"),
    "X59": ("streaming CDC apply (foreachBatch MERGE)",
            "src/main/scala/graft/streaming/StreamingOps.scala"),
    "X60": ("schema-evolution read (mergeSchema + backfill)",
            "src/main/scala/graft/sources/Sinks.scala"),
    "X81": ("streaming near-dup ingest screen",
            "src/main/scala/graft/streaming/StreamingOps.scala"),
}


def scan_pinned():
    rows = {}
    for tag, (surface, rel) in PINNED_SURFACES.items():
        lines = (ROOT / rel).read_text().splitlines()
        pat = re.compile(rf"\b{tag}\b")
        line = next(i for i, l in enumerate(lines, 1) if pat.search(l))
        # ReadmeIndexSpec excluded: it pins the tag LIST itself, so it
        # would self-referentially "mention" every pinned surface
        specs = [f.stem for f in sorted(TEST.glob("*Spec.scala"))
                 if f.stem != "ReadmeIndexSpec" and pat.search(f.read_text())]
        rows[tag] = {"surface": surface, "loc": f"{rel}:{line}",
                     "specs": specs}
    return rows


def scan_queries():
    rows = {}
    for f in sorted(MAIN.rglob("*.scala")):
        lines = f.read_text().splitlines()
        last_tag = None
        for i, line in enumerate(lines, 1):
            m = TAG.search(line)
            if m:
                last_tag = m.group(1)
            qm = QDEF.search(line)
            if qm:
                name = qm.group(1)
                rel = f.relative_to(ROOT)
                rows[name] = {
                    "tag": TAG_OVERRIDES.get(name, last_tag or "—"),
                    "loc": f"{rel}:{i}",
                    "oracled": not NO_ORACLE.search(line),
                }
    return rows


def spec_mentions(names):
    mentions = {n: [] for n in names}
    for f in sorted(TEST.glob("*Spec.scala")):
        text = f.read_text()
        for n in names:
            if f'"{n}"' in text:
                mentions[n].append(f.stem)
    return mentions


def render(rows, mentions, pinned):
    out = [BEGIN, "", "| survey row | query | oracle | defined at | specs |",
           "|---|---|---|---|---|"]
    for name in sorted(rows):
        r = rows[name]
        oracle = "DuckDB" if r["oracled"] else "spec-only"
        specs = ", ".join(mentions[name][:3]) or "—"
        out.append(f"| {r['tag']} | `{name}` | {oracle} | `{r['loc']}` | {specs} |")
    for tag in sorted(pinned):
        p = pinned[tag]
        specs = ", ".join(p["specs"][:3]) or "—"
        out.append(f"| {tag} | `{p['surface']}` | pinned surface | "
                   f"`{p['loc']}` | {specs} |")
    n_oracled = sum(1 for r in rows.values() if r["oracled"])
    out += ["", f"{len(rows)} queries ({n_oracled} DuckDB-oracled, "
            f"{len(rows) - n_oracled} spec-only) + {len(pinned)} pinned "
            "surfaces (no registry query; anchored to source + specs).", END]
    return "\n".join(out)


def main():
    rows = scan_queries()
    table = render(rows, spec_mentions(rows.keys()), scan_pinned())
    readme = ROOT / "README.md"
    text = readme.read_text()
    if BEGIN in text:
        new = re.sub(re.escape(BEGIN) + ".*?" + re.escape(END), table,
                     text, flags=re.S)
    else:
        new = text.rstrip() + "\n\n## Query cross-index\n\n" + table + "\n"
    if "--check" in sys.argv:
        if new != text:
            print("README.md query index is stale — run tools/readme_index.py")
            sys.exit(1)
        print(f"README index fresh: {len(rows)} queries")
        return
    readme.write_text(new)
    print(f"README index written: {len(rows)} queries")


if __name__ == "__main__":
    main()
