"""Window orderBy tie-determinism census (r13, the next
enumerate-and-classify audit after groupBy-NULL (r12) and JOIN-NULL
(r13 task 2)).

The defect class: a rank-sensitive window function (row_number, rank,
ntile, lag/lead, first/last, collect_list, ROWS-frame cumsum) over an
orderBy whose key set is NOT a total order within the partition. Under
ties the result depends on the physical row order — which Spark does
NOT define after a shuffle — so the same query can return different
rows on a different partitioning/cluster/AQE plan. ORACLE-INVISIBLE on
a lucky partitioning: the sf0.01 hash can match while the 1000-executor
run diverges. Every such window needs a unique trailing tiebreak key
(an id) or tie-insensitive consumption.

Enumerates every ``Window....orderBy(...)`` definition (AST), records
the order-key expressions and which rank-sensitive functions the
enclosing function applies, and classifies per enclosing function:

  a      tiebroken       - the LAST order key is a unique row id
                           (*id*/*key* column, md5/hash-of-id + id, …)
  b-uniq derived-unique  - keys are unique by construction (distinct
                           values of the keyed domain, prior groupBy on
                           exactly the order keys, posexplode index)
  b-ins  tie-insensitive - only frame-insensitive aggregates consumed
                           (RANGE-frame / unbounded sums, min/max) or
                           ties provably commute for the consumer
  d      documented      - nondeterminism under ties is the documented
                           contract (e.g. any-of-equals sampling)
  fix    real defect     - fixed + regression-tested this round

Usage: python tools/windoworder_audit.py [--unclassified]
"""
import ast
import glob
import sys

# tie-SENSITIVE consumers only. rank/dense_rank/percent_rank/cume_dist
# are functions of the ORDER KEY VALUES, not row positions — equal keys
# get equal ranks, so they are deterministic under ties and excluded.
RANKY = {
    "row_number", "ntile", "lag", "lead",
    "first", "last", "collect_list", "nth_value",
}

# id-ish name fragments that make a trailing key a unique tiebreak
# when the partition key set + this key identifies a row
ID_HINTS = (
    "id", "key", "doc", "node", "user", "term", "source_path", "name",
    "pos", "rn", "idx", "rank",
)

# reviewed r13: functions whose order keys are unique BY CONSTRUCTION
UNIQUE_BY_CONSTRUCTION = {
    # domain tables: window runs over DISTINCT values of the order key
    # (a prior groupBy/distinct on exactly that key)
    "quantile_buckets", "good_turing_rstar", "_prefix_sums",
    "rank_transform", "ecdf", "value_counts_table",
    "conformal_qhat",        # groupBy(__r) value-count table first
    "quantile_normalize",    # (group, value) count table; __tag splits
    "group_percentiles",     # same count-table construction
    "resample_ffill",        # one row per (key, grid bucket)
    "fill_daily_gaps",       # one row per (group, day) grid cell
    "knn_label_loo_accuracy",  # one row per (query, label) after vote agg
    "nb_classify",           # one row per (doc, class) — class tiebreak
    "also_bought_topk",      # neighbor id is the trailing key
    "shared_runs",           # (d1,d2,diff): p1 unique per pair stripe
    "corpus_datasheet_q",    # (source, lang) aggregate; lang tiebreak
    "prefix_filtered_pairs",  # per-doc DISTINCT token table; __it key
    # posexplode/sequence indexes
    "pack_sequences", "chunk_documents",
}
TIE_INSENSITIVE = {
    # remaining ties are FULL-duplicate rows (value column is in the
    # order key), so any permutation yields the same multiset
    "time_weighted_avg",
}
# (a) with caller-supplied/expression tiebreaks the AST repr missed
TIEBROKEN_REVIEWED = {
    "mixture_sample": "hash-fraction + id tiebreak (asc exprs)",
    "temperature_sample": "hash-fraction + id tiebreak (asc exprs)",
    "bh_adjust": "orderBy(p, *ids) — caller id columns break ties",
    "burstiness": "order_cols=('event_id',) documented tie key",
    "waterfill_allocation": "asc(__a) + asc(__k) — __k is the key col",
    "IVFIndex.search": "asc(id_col) trailing; probe window over the "
                       "distinct-cell domain",
    "IVFPQIndex.search": "asc(self.id_col) trailing",
    "IVFPQIndex.search_df": "asc(id_col); cell window over cell domain",
    "probe_cells_expr": "asc(cell) trailing: one row per (query, "
                        "centroid), cell ids unique in the centroid list",
    "exact_rerank": "asc(id_col) trailing in the per-__qid window",
    "ranking_metrics": "rank_col unique per query is the input "
                       "contract of a ranking (docstring)",
}
DOCUMENTED = {
    "exact_ntile": "order_cols are caller-supplied; docstring requires "
                   "a unique trailing key for deterministic buckets",
}
FIXED_R13 = {
    "asof_join": "payload-struct tiebreak among duplicate (key, ts) "
                 "right rows — content-deterministic match",
    "stream_upsert": "vector tiebreak among equal-ts updates per docid",
}


def _key_repr(call):
    out = []
    for a in call.args:
        if isinstance(a, ast.Constant):
            out.append(str(a.value))
        elif isinstance(a, ast.Starred):
            out.append("*spread")
        elif isinstance(a, ast.Call):
            f = a.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", "?")
            inner = ""
            x = a.args[0] if a.args else None
            # recurse through asc(col("x")) / desc(F.col("x")) wrappers
            while isinstance(x, ast.Call) and x.args:
                x = x.args[0]
            if isinstance(x, ast.Constant):
                inner = str(x.value)
            elif isinstance(x, ast.Name):
                inner = f"${x.id}"
            elif isinstance(f, ast.Attribute) and isinstance(
                    f.value, ast.Call):
                # F.col("x").asc() method form: dig into the receiver
                r = f.value
                while isinstance(r, ast.Call) and r.args:
                    r = r.args[0]
                if isinstance(r, ast.Constant):
                    inner = str(r.value)
            out.append(f"{name}({inner})")
        elif isinstance(a, ast.Name):
            out.append(f"${a.id}")
        elif isinstance(a, ast.Attribute):
            out.append(f"attr:{a.attr}")
        else:
            out.append("<expr>")
    return out


def _last_key_idish(keys):
    if not keys:
        return False
    last = keys[-1].lower()
    # strip function wrappers: asc(x), desc(x), col(x)
    for h in ID_HINTS:
        if h in last:
            return True
    return False


def _funcs(tree):
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, ast.FunctionDef):
                    yield f"{node.name}.{sub.name}", sub


def main():
    only_uncls = "--unclassified" in sys.argv
    rows = []
    for path in sorted(
            glob.glob("weaviate_txtai_spark/**/*.py", recursive=True)):
        src = open(path).read()
        tree = ast.parse(src)
        for qname, node in _funcs(tree):
            fsrc = ast.get_source_segment(src, node) or ""
            windows = []
            for sub in ast.walk(node):
                if (isinstance(sub, ast.Call)
                        and isinstance(sub.func, ast.Attribute)
                        and sub.func.attr == "orderBy"):
                    # only Window chains: receiver mentions Window or a
                    # partitionBy call (DataFrame.orderBy is a SORT,
                    # deterministic output-order concern only)
                    recv = ast.get_source_segment(src, sub.func.value) or ""
                    if "Window" not in recv and "partitionBy" not in recv:
                        continue
                    windows.append((_key_repr(sub), sub.lineno))
            if not windows:
                continue
            ranky = sorted({r for r in RANKY if f"{r}(" in fsrc
                            or f".{r}" in fsrc})
            short = qname.split(".")[-1]
            if short in FIXED_R13 or qname in FIXED_R13:
                cls = "fix->a"
            elif short in DOCUMENTED or qname in DOCUMENTED:
                cls = "d"
            elif short in TIEBROKEN_REVIEWED or qname in TIEBROKEN_REVIEWED:
                cls = "a"
            elif short in UNIQUE_BY_CONSTRUCTION:
                cls = "b-uniq"
            elif short in TIE_INSENSITIVE:
                cls = "b-ins"
            elif not ranky:
                cls = "b-ins(no-rank-fn)"
            elif all(_last_key_idish(k) for k, _ in windows):
                cls = "a"
            else:
                cls = "UNCLASSIFIED"
            rows.append((path, qname, windows, ranky, cls))
    counts = {}
    for path, fn, windows, ranky, cls in rows:
        counts[cls.split("(")[0]] = counts.get(cls.split("(")[0], 0) + 1
        if only_uncls and cls != "UNCLASSIFIED":
            continue
        keys = ["+".join(k) for k, _ in windows]
        print(f"{cls:14s} {path}:{fn} ranky={ranky} orderBy={keys}")
    print(f"\nTOTAL functions with ordered windows: {len(rows)}  "
          f"by class: {sorted(counts.items())}", file=sys.stderr)


if __name__ == "__main__":
    main()
