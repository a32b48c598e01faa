"""CLI for the engine — the irkit tool surface re-expressed
(SURVEY.md §3: irk-part/irk-warc/build ~ `build`, irk-merge ~ `merge`,
irk-query ~ `query`, irk-lookup ~ `lookup`), shipped via
`spark-submit --py-files irkit_spark.zip tools/submit_main.py ...`
(BASELINE.json:6).

The session comes from spark-submit's conf (master/executors set on the
submit command line); only engine-level defaults are applied here.
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(app: str):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.appName(app)
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cmd_synth(args):
    from irkit_spark.sources.pages import pages_df
    spark = _session("irkit-synth")
    pages_df(spark, args.n_docs).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"written": args.out, "n_docs": args.n_docs}))


def cmd_build(args):
    from irkit_spark.operators.build import build_index
    from irkit_spark.sources.catalog import load_pages
    spark = _session("irkit-build")
    pages = load_pages(spark, args.pages)   # parquet path OR catalog table
    m = build_index(spark, pages, args.out, codec=args.codec,
                    block_size=args.block_size,
                    docs_per_shard=args.docs_per_shard,
                    text_from_html=args.from_html,
                    key_col=args.key_col,
                    doc_id_col=args.doc_id_col,
                    resume=args.resume,
                    quantize=args.quantize,
                    table_format=args.table_format,
                    extractor=args.extractor)
    print(json.dumps(m))


def cmd_merge(args):
    from irkit_spark.operators.merge import merge_indexes
    spark = _session("irkit-merge")
    print(json.dumps(merge_indexes(spark, args.inputs, args.out,
                                   table_format=args.table_format,
                                   resume=args.resume)))


def _read_queries_file(path: str) -> dict[str, str]:
    """TREC-style query file: one query per line, either 'qid<TAB>text'
    or bare text (qid = 0-based line number). Blank lines skipped."""
    queries: dict[str, str] = {}
    with open(path, encoding="utf-8") as f:
        for i, line in enumerate(f):
            line = line.rstrip("\n")
            if not line.strip():
                continue
            if "\t" in line:
                qid, text = line.split("\t", 1)
            else:
                qid, text = str(i), line
            queries[qid] = text
    return queries


def cmd_query(args):
    from irkit_spark.operators.query import Index, batch_search, search
    spark = _session("irkit-query")
    idx = Index(spark, args.index)
    if args.queries_file:
        # whole TREC run in one batch_search call, the core a single
        # query runs through too: on the driver kernel when the
        # queries' summed df, added over the queries, fits the
        # search(local=None) gate and there is no --doc-filter, else
        # one distributed pass where all queries' terms prune one
        # postings scan, then the driver k-merge (per-query jobs would
        # cost a fixed ~1-2s of scheduling each)
        queries = _read_queries_file(args.queries_file)
        rows = batch_search(idx, queries, k=args.k, mode=args.mode,
                            scorer=args.scorer,
                            doc_filter=args.doc_filter or None).collect()
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid in queries:            # file order; OOV-only -> no rows
            ranked = sorted(by_q.get(qid, ()),
                            key=lambda r: (-r["score"], r["doc_id"]))
            for rank, r in enumerate(ranked, 1):
                print(f"{qid} Q0 {r['doc_id']} {rank} "
                      f"{r['score']:.6f} irkit_spark")
        return
    if args.synonyms:
        from irkit_spark.operators.synonyms import search_synonyms
        groups = [g.split("|") for g in args.query.split(",")]
        rows = search_synonyms(idx, groups, k=args.k).collect()
        for rank, r in enumerate(rows, 1):
            print(f"{args.qid} Q0 {r['doc_id']} {rank} "
                  f"{r['score']:.6f} irkit_spark")
        return
    if args.phrase:
        from irkit_spark.operators.positions import phrase_search
        rows = phrase_search(idx, args.query, k=args.k,
                             slop=args.slop).collect()
        for rank, r in enumerate(rows, 1):
            print(f"{args.qid} Q0 {r['doc_id']} {rank} "
                  f"{r['score']:.6f} irkit_spark")
        return
    if args.near:
        from irkit_spark.operators.positions import near_search
        rows = near_search(idx, args.query, window=args.near,
                           k=args.k).collect()
        for rank, r in enumerate(rows, 1):
            print(f"{args.qid} Q0 {r['doc_id']} {rank} "
                  f"{r['score']:.6f} irkit_spark")
        return
    local = {"auto": None, "on": True, "off": False}[args.local]
    if args.doc_filter and args.local == "auto":
        local = False           # filtered retrieval runs distributed
    if args.prf:
        from irkit_spark.operators.prf import prf_search
        from irkit_spark.sources.catalog import load_pages
        if not args.pages:
            raise SystemExit("--prf needs --pages (the corpus text "
                             "the index was built from)")
        docs_df = load_pages(spark, args.pages)
        rows = prf_search(idx, args.query, docs_df, k=args.k,
                          fb_docs=args.fb_docs,
                          fb_terms=args.fb_terms, mode=args.mode,
                          local=local, text_col=args.prf_text_col,
                          id_col=args.prf_id_col).collect()
        for rank, r in enumerate(rows, 1):
            print(f"{args.qid} Q0 {r['doc_id']} {rank} "
                  f"{r['score']:.6f} irkit_spark")
        return
    if args.wildcard:
        from irkit_spark.operators.query import prefix_search
        rows = prefix_search(idx, args.query, k=args.k, mode=args.mode,
                             scorer=args.scorer, local=local,
                             doc_filter=args.doc_filter or None,
                             exclude_terms=args.exclude or None,
                             max_expansions=args.max_expansions
                             ).collect()
    elif args.fuzzy:
        from irkit_spark.operators.query import fuzzy_search
        rows = fuzzy_search(idx, args.query, k=args.k, mode=args.mode,
                            scorer=args.scorer, local=local,
                            doc_filter=args.doc_filter or None,
                            exclude_terms=args.exclude or None,
                            max_expansions=args.max_expansions
                            ).collect()
    elif args.boolean:
        from irkit_spark.operators.boolean import boolean_search
        rows = boolean_search(idx, args.query, k=args.k,
                              scorer=args.scorer, local=local,
                              doc_filter=args.doc_filter or None
                              ).collect()
    elif args.regex:
        from irkit_spark.operators.query import regex_search
        rows = regex_search(idx, args.query, k=args.k, mode=args.mode,
                            scorer=args.scorer, local=local,
                            doc_filter=args.doc_filter or None,
                            exclude_terms=args.exclude or None,
                            max_expansions=args.max_expansions
                            ).collect()
    elif args.tiered:
        from irkit_spark.operators.tiered import tiered_search
        tstats: dict = {}
        rows = tiered_search(idx, args.query, k=args.k,
                             mode=args.mode, stats=tstats).collect()
        print(f"# tiered: tier_used={tstats['tier_used']} "
              f"{tstats['shards_searched']} of "
              f"{tstats['shards_total']} shards searched",
              file=sys.stderr)
    elif args.selective:
        from irkit_spark.operators.selective import selective_search
        stats: dict = {}
        rows = selective_search(idx, args.query, k=args.k,
                                mode=args.mode, m0=args.m0,
                                stats=stats).collect()
        print(f"# selective: {stats['shards_phase1']}+"
              f"{stats['shards_phase2']} of {stats['shards_total']} "
              "shards searched", file=sys.stderr)
    else:
        rows = search(idx, args.query, k=args.k, mode=args.mode,
                      scorer=args.scorer, local=local,
                      doc_filter=args.doc_filter or None,
                      exclude_terms=args.exclude or None).collect()
    for rank, r in enumerate(rows, 1):
        # TREC-ish run output (SURVEY.md O3 [pub:tools/irk-query.cpp])
        print(f"{args.qid} Q0 {r['doc_id']} {rank} {r['score']:.6f} irkit_spark")


def cmd_mlt(args):
    from irkit_spark.operators.mlt import mlt_search
    from irkit_spark.operators.query import Index
    from irkit_spark.sources.catalog import load_pages
    spark = _session("irkit-mlt")
    idx = Index(spark, args.index)
    docs = load_pages(spark, args.pages)
    id_col = args.id_col
    if id_col not in docs.columns:
        # url-keyed corpus (the html build shape): attach the index's
        # doc ids through its own docs artifact
        docs = idx.docs.select("doc_id", "url").join(
            docs.select("url", args.text_col), "url")
        id_col = "doc_id"
    rows = mlt_search(idx, args.doc_id, docs, k=args.k, mode=args.mode,
                      max_terms=args.max_terms, min_tf=args.min_tf,
                      text_col=args.text_col,
                      id_col=id_col).collect()
    for rank, r in enumerate(rows, 1):
        print(f"{args.doc_id} Q0 {r['doc_id']} {rank} "
              f"{r['score']:.6f} irkit_spark")


def cmd_facets(args):
    from irkit_spark.operators.facets import facet_counts
    from irkit_spark.operators.query import Index
    from irkit_spark.sources.catalog import load_pages
    spark = _session("irkit-facets")
    idx = Index(spark, args.index)
    docs = load_pages(spark, args.pages)
    if args.id_col != "doc_id" or args.id_col not in docs.columns:
        from pyspark.sql import functions as F
        docs = idx.docs.select("doc_id", "url").join(
            docs.select("url", args.facet_col), "url")
        id_col = "doc_id"
    else:
        id_col = args.id_col
    rows = facet_counts(idx, args.query, docs, args.facet_col,
                        id_col=id_col, conjunctive=args.all,
                        exclude_terms=args.exclude or None).collect()
    for r in rows:
        print(f"{r['facet']}\t{r['n_docs']}")


def cmd_suggest(args):
    from irkit_spark.operators.query import Index, autocomplete, suggest
    spark = _session("irkit-suggest")
    idx = Index(spark, args.index)
    df = (autocomplete(idx, args.word, n=args.n) if args.prefix
          else suggest(idx, args.word, n=args.n,
                       max_edit=args.max_edit))
    for r in df.collect():
        print(f"{r['term']}\t{r['df']}")


def cmd_evaluate(args):
    from irkit_spark.operators.evaluate import (evaluate_trec_file,
                                                mean_metrics)
    spark = _session("irkit-evaluate")
    per_q = evaluate_trec_file(spark, args.run, args.qrels, k=args.k)
    rows = sorted(per_q.collect(), key=lambda r: r["qid"])
    for r in rows:
        print(f"{r['qid']}\tP@{args.k}={r['p_at_k']:.6f}\t"
              f"R@{args.k}={r['recall_at_k']:.6f}\tAP={r['ap']:.6f}\t"
              f"RR={r['rr']:.6f}\tnDCG={r['ndcg']:.6f}")
    m = mean_metrics(spark.createDataFrame(rows)).collect()[0]
    print(f"all\tqueries={m['n_queries']}\tP@{args.k}={m['p_at_k']:.6f}"
          f"\tR@{args.k}={m['recall_at_k']:.6f}\tMAP={m['map']:.6f}"
          f"\tMRR={m['mrr']:.6f}\tnDCG={m['ndcg']:.6f}")


def cmd_verify(args):
    from irkit_spark.operators.validate import verify_index
    spark = _session("irkit-verify")
    r = verify_index(spark, args.index, table_format=args.table_format,
                     deep=args.deep)
    print(json.dumps(r))
    if not r["ok"]:
        sys.exit(2)


def cmd_build_positions(args):
    from irkit_spark.operators.positions import build_positions
    from irkit_spark.sources.catalog import load_pages
    spark = _session("irkit-build-positions")
    src = load_pages(spark, args.pages)
    m = build_positions(spark, src, args.index, text_col=args.text_col,
                        doc_id_col=args.doc_id_col, key_col=args.key_col,
                        table_format=args.table_format)
    print(json.dumps(m))


def cmd_explain(args):
    from irkit_spark.operators.explain import explain_query, explain_score
    from irkit_spark.operators.query import Index
    spark = _session("irkit-explain")
    idx = Index(spark, args.index)
    if args.doc_id is not None:
        rows = explain_score(idx, args.query, args.doc_id).collect()
        print(json.dumps({"doc_id": args.doc_id,
                          "score": sum(r["contribution"] for r in rows),
                          "terms": [r.asDict() for r in rows]}))
        return
    r = explain_query(idx, args.query, k=args.k,
                      with_shard_bounds=args.bounds)
    print(json.dumps(r))


def cmd_build_tier(args):
    from irkit_spark.operators.tiered import build_impact_tier
    spark = _session("irkit-build-tier")
    m = build_impact_tier(spark, args.index, kappa=args.kappa,
                          table_format=args.table_format)
    print(json.dumps(m))


def cmd_delete(args):
    from irkit_spark.operators.delete import clear_deletions, delete_docs
    spark = _session("irkit-delete")
    if args.clear:
        clear_deletions(spark, args.index,
                        table_format=args.table_format)
        print(json.dumps({"n_deleted": 0, "cleared": True}))
        return
    ids = ([int(x) for x in args.ids.split(",")] if args.ids else None)
    m = delete_docs(spark, args.index, doc_ids=ids,
                    predicate=args.predicate or None,
                    table_format=args.table_format)
    print(json.dumps(m))


def cmd_compact(args):
    from irkit_spark.operators.compact import compact_index
    spark = _session("irkit-compact")
    print(json.dumps(compact_index(spark, args.index, args.out,
                                   table_format=args.table_format)))


def cmd_update(args):
    from irkit_spark.operators.update import update_index
    from irkit_spark.sources.catalog import load_pages
    spark = _session("irkit-update")
    batch = load_pages(spark, args.pages)
    m = update_index(spark, args.index, batch, args.out,
                     text_from_html=args.from_html,
                     key_col=args.key_col,
                     doc_id_col=args.doc_id_col,
                     table_format=args.table_format)
    print(json.dumps(m))


def cmd_lookup(args):
    from irkit_spark.operators.query import Index
    spark = _session("irkit-lookup")
    idx = Index(spark, args.index)
    if args.term:
        print(json.dumps(idx.term_stats(args.term)))
    elif args.url:
        print(json.dumps(idx.doc(args.url)))
    else:
        print(json.dumps(idx.stats, default=str))


def cmd_curate(args):
    """Training-data curation chain over a documents parquet. Stages
    run in a fixed order (each optional, enabled by its flag):
    quality filter -> boilerplate-line removal -> paragraph dedup ->
    substring dedup -> exact dedup keep-first -> hash sample ->
    mixture sample -> split labeling. Prints a JSON report with the
    row count after every enabled stage."""
    spark = _session("irkit-curate")
    df = spark.read.parquet(args.docs)
    report = {"in": df.count()}
    if args.min_tokens is not None:
        from irkit_spark.pipeline.textstats import quality_filter
        df = quality_filter(df, min_tokens=args.min_tokens)
        report["quality_filter"] = df.count()
    if args.boiler_min_docs is not None:
        from irkit_spark.pipeline.boilerplate import remove_boilerplate
        df = remove_boilerplate(df, min_docs=args.boiler_min_docs) \
            .drop("n_removed")
        report["boilerplate_lines"] = df.count()
    if args.dedup_paragraphs:
        from irkit_spark.pipeline.boilerplate import dedup_paragraphs
        df = dedup_paragraphs(df).drop("n_removed")
        report["paragraph_dedup"] = df.count()
    if args.dedup_substrings is not None:
        from irkit_spark.pipeline.substring import dedup_substrings
        df = dedup_substrings(df, n=args.dedup_substrings) \
            .drop("n_removed")
        report["substring_dedup"] = df.count()
    if args.dedup_exact:
        from irkit_spark.pipeline.dedup import dedup_keep_first
        df = dedup_keep_first(df)
        report["exact_dedup"] = df.count()
    if args.sample:
        from irkit_spark.pipeline.sampling import hash_sample
        num, den = (int(x) for x in args.sample.split("/"))
        df = hash_sample(df, num, den)
        report["sample"] = df.count()
    if args.mixture:
        from irkit_spark.pipeline.sampling import mixture_sample
        weights = {}
        for kv in args.mixture.split(","):
            k, v = kv.split("=")
            weights[k] = float(v)
        df = mixture_sample(df, weights, domain_col=args.mixture_col)
        report["mixture"] = df.count()
    if args.split:
        from irkit_spark.pipeline.sampling import hash_split
        df = hash_split(df, args.split)
        # every enabled stage reports its row count; the labeling
        # stage reports per-split counts (ADVICE r6)
        report["split"] = {r["split"]: r["count"] for r in
                           df.groupBy("split").count().collect()}
    df.write.mode("overwrite").parquet(args.out)
    report["out"] = spark.read.parquet(args.out).count()
    print(json.dumps(report))


def cmd_bpe(args):
    from irkit_spark.pipeline.bpe import learn_bpe
    spark = _session("irkit-bpe")
    docs = spark.read.parquet(args.docs)
    merges = learn_bpe(docs, n_merges=args.merges)
    merges.coalesce(1).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"merges": merges.count(), "out": args.out}))


def main(argv=None):
    ap = argparse.ArgumentParser(prog="irkit_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="generate a deterministic pages table")
    s.add_argument("--out", required=True)
    s.add_argument("--n-docs", type=int, required=True)
    s.set_defaults(fn=cmd_synth)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--pages", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--codec", default="varbyte",
                   choices=["varbyte", "streamvbyte", "binpack"])
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--docs-per-shard", type=int, default=None)
    b.add_argument("--from-html", action="store_true")
    b.add_argument("--key-col", default="url")
    b.add_argument("--doc-id-col", default=None)
    b.add_argument("--resume", action="store_true")
    b.add_argument("--table-format", default=None,
                   choices=["parquet", "iceberg"],
                   help="index-artifact format knob (default: "
                        "$IRKIT_TABLE_FORMAT or parquet)")
    b.add_argument("--quantize", action="store_true",
                   help="store 7-bit impact scores instead of tfs")
    b.add_argument("--extractor", default="frozen",
                   choices=["frozen", "dom"],
                   help="html->text form when --from-html (frozen = "
                        "golden byte-identity default; dom = quote-"
                        "aware tags, noscript/template/iframe dropped)")
    b.set_defaults(fn=cmd_build)

    m = sub.add_parser("merge", help="merge batch indexes")
    m.add_argument("--out", required=True)
    m.add_argument("--resume", action="store_true",
                   help="skip artifacts a prior interrupted merge of "
                        "the SAME inputs already completed "
                        "(_merge_manifest.json checkpoint)")
    m.add_argument("--table-format", default=None,
                   choices=["parquet", "iceberg"])
    m.add_argument("inputs", nargs="+")
    m.set_defaults(fn=cmd_merge)

    q = sub.add_parser("query", help="top-k BM25 query")
    q.add_argument("--index", required=True)
    g = q.add_mutually_exclusive_group(required=True)
    g.add_argument("--query")
    g.add_argument("--queries-file", dest="queries_file",
                   help="TREC run over a query file ('qid<TAB>text' or "
                        "bare text per line) in one batch_search call "
                        "(driver kernel or one distributed pass); "
                        "modes: daat/wand/maxscore/and")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode", default="wand",
                   choices=["taat", "daat", "wand", "maxscore", "and"])
    q.add_argument("--scorer", default="bm25", choices=["bm25", "ql", "jm"])
    q.add_argument("--qid", default="0")
    q.add_argument("--doc-filter", default=None, dest="doc_filter",
                   help="SQL predicate over the docs table (doc_id, "
                        "url, doc_len, partition_id): top-k within "
                        "the passing doc slice, global scoring stats")
    q.add_argument("--local", default="auto",
                   choices=["auto", "on", "off"],
                   help="driver-side serving kernel: auto gates on "
                        "query size (irk-query analog), on forces it, "
                        "off forces the distributed path")
    q.add_argument("--phrase", action="store_true",
                   help="exact-phrase retrieval: --query tokens must "
                        "occur consecutively (needs build-positions)")
    q.add_argument("--synonyms", action="store_true",
                   help="parse --query as synonym groups ('|' within "
                        "a group, ',' between, e.g. 'join|merge,hash')"
                        ": each group scores as one pseudo-term "
                        "(summed tf, exact union df)")
    q.add_argument("--slop", type=int, default=0,
                   help="proximity slack with --phrase: consecutive "
                        "tokens may sit up to 1+slop positions apart")
    q.add_argument("--near", type=int, default=0, metavar="WINDOW",
                   help="unordered proximity: the query's two terms "
                        "within WINDOW positions in either order "
                        "(needs build-positions)")
    q.add_argument("--exclude", default=None,
                   help="boolean NOT: drop docs containing any of "
                        "these space-separated terms")
    q.add_argument("--prf", action="store_true",
                   help="pseudo-relevance feedback: expand the query "
                        "from the top docs, weighted requery")
    q.add_argument("--pages", default=None,
                   help="corpus table/path with the docs' text "
                        "(required with --prf)")
    q.add_argument("--fb-docs", type=int, default=10)
    q.add_argument("--fb-terms", type=int, default=10)
    q.add_argument("--prf-text-col", default="text")
    q.add_argument("--prf-id-col", default="doc_id")
    q.add_argument("--wildcard", action="store_true",
                   help="expand trailing-* tokens against the lexicon "
                        "(prefix queries), then score the disjunction")
    q.add_argument("--fuzzy", action="store_true",
                   help="expand trailing-~/~1/~2 tokens to their "
                        "edit-distance lexicon neighborhood, then "
                        "score the disjunction")
    q.add_argument("--boolean", action="store_true",
                   help="treat --query as a boolean expression "
                        "(AND/OR/NOT + parentheses, DNF execution)")
    q.add_argument("--selective", action="store_true",
                   help="shard-level selective search (exact): rank "
                        "shards by score upper bound, search the top "
                        "--m0, escalate only shards bounding above "
                        "the running k-th score")
    q.add_argument("--m0", type=int, default=2,
                   help="selective search phase-1 shard count")
    q.add_argument("--tiered", action="store_true",
                   help="serve tier-first (exact): bootstrap the "
                        "threshold from the impact tier (build-tier), "
                        "then run the full index with it carried in")
    q.add_argument("--regex", action="store_true",
                   help="treat --query as one anchored regex over the "
                        "lexicon (RE2 subset), score the expansion "
                        "disjunction")
    q.add_argument("--max-expansions", type=int, default=32,
                   help="cap per wildcard/fuzzy pattern, picked by "
                        "(df DESC, term)")
    q.set_defaults(fn=cmd_query)

    bp = sub.add_parser("build-positions",
                        help="add the positional artifact to an index")
    bp.add_argument("--pages", required=True,
                    help="the SAME source text the index tokenized "
                         "(parquet path or catalog table)")
    bp.add_argument("--index", required=True)
    bp.add_argument("--text-col", default="text")
    bp.add_argument("--key-col", default="url")
    bp.add_argument("--doc-id-col", default=None)
    bp.add_argument("--table-format", default=None,
                    choices=["parquet", "iceberg"])
    bp.set_defaults(fn=cmd_build_positions)

    bt = sub.add_parser("build-tier",
                        help="materialize the impact tier (blocks with "
                             "max_score >= kappa * term max) for "
                             "query --tiered")
    bt.add_argument("--index", required=True)
    bt.add_argument("--kappa", type=float, default=0.7)
    bt.add_argument("--table-format", default=None,
                    choices=["parquet", "iceberg"])
    bt.set_defaults(fn=cmd_build_tier)

    ex = sub.add_parser("explain",
                        help="zero-decode query report: term stats, "
                             "est. postings, routing, artifact "
                             "freshness")
    ex.add_argument("--index", required=True)
    ex.add_argument("--query", required=True)
    ex.add_argument("--k", type=int, default=10)
    ex.add_argument("--bounds", action="store_true",
                    help="include selective search's per-shard upper "
                         "bounds (one narrow Spark job)")
    ex.add_argument("--doc-id", type=int, default=None,
                    help="explain ONE doc instead: per-term BM25 "
                         "contribution breakdown (Lucene Explanation)")
    ex.set_defaults(fn=cmd_explain)

    ml = sub.add_parser("mlt", help="more-like-this: docs similar to "
                                    "a given doc (tf*idf term mining)")
    ml.add_argument("--index", required=True)
    ml.add_argument("--pages", required=True,
                    help="the corpus text table, keyed by the index's "
                         "doc ids (--id-col)")
    ml.add_argument("--doc-id", type=int, required=True, dest="doc_id")
    ml.add_argument("--k", type=int, default=10)
    ml.add_argument("--mode", default="wand",
                    choices=["taat", "daat", "wand", "maxscore", "and"])
    ml.add_argument("--max-terms", type=int, default=25,
                    dest="max_terms")
    ml.add_argument("--min-tf", type=int, default=1, dest="min_tf")
    ml.add_argument("--text-col", default="text", dest="text_col")
    ml.add_argument("--id-col", default="doc_id", dest="id_col")
    ml.set_defaults(fn=cmd_mlt)

    fc = sub.add_parser("facets", help="facet counts over a query's "
                                       "match set")
    fc.add_argument("--index", required=True)
    fc.add_argument("--pages", required=True,
                    help="table carrying the facet column (joined on "
                         "url when it lacks the index's doc ids)")
    fc.add_argument("--query", required=True)
    fc.add_argument("--facet-col", required=True, dest="facet_col")
    fc.add_argument("--all", action="store_true",
                    help="require ALL query terms (conjunctive)")
    fc.add_argument("--exclude", default=None)
    fc.add_argument("--id-col", default="doc_id", dest="id_col")
    fc.set_defaults(fn=cmd_facets)

    sg = sub.add_parser("suggest",
                        help="did-you-mean (edit-distance-1) or "
                             "--prefix autocomplete over the lexicon")
    sg.add_argument("--index", required=True)
    sg.add_argument("--word", required=True)
    sg.add_argument("--n", type=int, default=5)
    sg.add_argument("--prefix", action="store_true",
                    help="prefix completion instead of fuzzy")
    sg.add_argument("--max-edit", type=int, default=1,
                    choices=[1, 2], dest="max_edit")
    sg.set_defaults(fn=cmd_suggest)

    ev = sub.add_parser("evaluate",
                        help="score a TREC run file against qrels "
                             "(trec_eval metrics at depth k)")
    ev.add_argument("--run", required=True,
                    help="TREC run file: qid Q0 doc rank score tag")
    ev.add_argument("--qrels", required=True,
                    help="TREC qrels file: qid 0 doc rel")
    ev.add_argument("--k", type=int, default=10)
    ev.set_defaults(fn=cmd_evaluate)

    v = sub.add_parser("verify", help="check index artifact invariants")
    v.add_argument("--index", required=True)
    v.add_argument("--deep", action="store_true",
                   help="also decode every posting block (full scan)")
    v.add_argument("--table-format", default=None,
                   choices=["parquet", "iceberg"])
    v.set_defaults(fn=cmd_verify)

    dl = sub.add_parser("delete", help="tombstone docs (selection-only;"
                        " run compact to remove physically)")
    dl.add_argument("--index", required=True)
    dl.add_argument("--ids", help="comma-separated doc ids")
    dl.add_argument("--predicate",
                    help="SQL over the docs table, e.g. "
                    "\"url LIKE 'https://spam.%%'\"")
    dl.add_argument("--clear", action="store_true",
                    help="drop every tombstone (un-delete all)")
    dl.add_argument("--table-format", default=None)
    dl.set_defaults(fn=cmd_delete)

    cp = sub.add_parser("compact", help="rewrite the index without "
                        "tombstoned docs, stats recomputed")
    cp.add_argument("--index", required=True)
    cp.add_argument("--out", required=True)
    cp.add_argument("--table-format", default=None)
    cp.set_defaults(fn=cmd_compact)

    up = sub.add_parser("update", help="upsert a batch of docs: "
                        "supersede matching keys, append the rest")
    up.add_argument("--index", required=True)
    up.add_argument("--pages", required=True,
                    help="parquet path or catalog table with the batch")
    up.add_argument("--out", required=True)
    up.add_argument("--from-html", action="store_true")
    up.add_argument("--key-col", default="url")
    up.add_argument("--doc-id-col", default=None,
                    help="column with explicit new dense doc ids")
    up.add_argument("--table-format", default=None)
    up.set_defaults(fn=cmd_update)

    lk = sub.add_parser("lookup", help="term/doc/stats lookups")
    lk.add_argument("--index", required=True)
    lk.add_argument("--term")
    lk.add_argument("--url")
    lk.set_defaults(fn=cmd_lookup)

    cu = sub.add_parser("curate", help="training-data curation chain "
                        "over a documents parquet (fixed stage order; "
                        "each stage opt-in by flag)")
    cu.add_argument("--docs", required=True)
    cu.add_argument("--out", required=True)
    cu.add_argument("--min-tokens", type=int, default=None,
                    help="quality filter: min token count")
    cu.add_argument("--boiler-min-docs", type=int, default=None,
                    help="remove lines occurring in >= N docs")
    cu.add_argument("--dedup-paragraphs", action="store_true",
                    help="corpus-global paragraph keep-first dedup")
    cu.add_argument("--dedup-substrings", type=int, default=None,
                    metavar="N", help="cut duplicated spans >= N tokens")
    cu.add_argument("--dedup-exact", action="store_true",
                    help="exact text dedup, keep-first")
    cu.add_argument("--sample", metavar="NUM/DEN",
                    help="deterministic hash sample, e.g. 1/10")
    cu.add_argument("--mixture", metavar="DOM=W,DOM=W",
                    help="per-domain epoch weights, e.g. en=0.5,zh=2")
    cu.add_argument("--mixture-col", default="lang")
    cu.add_argument("--split", type=int, default=None, metavar="DEN",
                    help="label train/val/test splits at resolution DEN")
    cu.set_defaults(fn=cmd_curate)

    bp2 = sub.add_parser("bpe", help="learn BPE merges from a "
                         "documents parquet")
    bp2.add_argument("--docs", required=True)
    bp2.add_argument("--out", required=True)
    bp2.add_argument("--merges", type=int, default=50)
    bp2.set_defaults(fn=cmd_bpe)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
