"""Driver collects in the library are counted, and each one is justified.

``.collect()`` and ``.toPandas()`` pull rows to the driver.  Every call
site under ``hllspark/`` is listed below as (module, function) -> (number
of call sites, why the rows it pulls are bounded or wanted); a new call
site fails here until it is listed with its reason.  The ops that scan
partition offsets in the plan (``curation._range_scan``) are also built
with both calls disabled, so none of them reaches the driver while its
plan is built.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1] / "hllspark"

ALLOWED = {
    ("bpe", "bpe_vocab"): (1, "distinct base characters: the charset, not the vocabulary"),
    ("measure", "_spark_baseline"): (3, "CLI measurement: one aggregate row per run"),
    ("measure", "_spark"): (2, "CLI measurement: one sketch row per run"),
    ("similarity", "fit_centroids"): (1, "TakeOrdered sample capped at sample_rows"),
    ("similarity", "ivf_top_k_indexed"): (1, "distinct probed cells: at most n_centroids rows"),
    ("similarity", "fit_pq_codebooks"): (1, "TakeOrdered sample capped at sample_rows"),
    ("similarity", "pq_top_k"): (1, "the query table for the LUTs (uncapped; ROADMAP item 4)"),
    ("similarity", "pq_top_k_indexed"): (1, "distinct probed cells: at most n_centroids rows"),
    ("similarity", "_seed_rows"): (1, "TakeOrdered seed sample of k rows"),
    ("similarity", "kmeans_fit_distributed"): (1, "per-iteration (cell, dim) sums: k x dim rows"),
    ("similarity", "gram_matrix"): (1, "upper-triangle Gram entries: dim^2 / 2 rows"),
    ("text", "nb_lang_id"): (1, "lang_stats: one row per language"),
    ("text", "_nb_lang_id_arrow"): (2, "lang_stats (one row per language) and the weights table (vocab-bounded)"),
}


def _call_sites():
    """(module, enclosing function) -> number of .collect()/.toPandas() calls."""
    sites: dict[tuple[str, str], int] = {}

    def visit(node, module, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name if fn is None else fn
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("collect", "toPandas")
        ):
            key = (module, fn or "<module>")
            sites[key] = sites.get(key, 0) + 1
        for child in ast.iter_child_nodes(node):
            visit(child, module, fn)

    for path in sorted(ROOT.rglob("*.py")):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        visit(ast.parse(path.read_text()), module, None)
    return sites


def test_driver_collects_are_allowlisted():
    sites = _call_sites()
    assert sites == {k: n for k, (n, _) in ALLOWED.items()}, (
        "a .collect()/.toPandas() call site under hllspark/ was added or "
        "removed: list it in ALLOWED with the reason its rows are bounded"
    )
    assert sum(sites.values()) == 17


def test_range_scan_ops_build_without_driver_collects(spark, monkeypatch):
    """pack_sequences, select_within_budget, ccnet_buckets and
    politeness_waves build their plans without pulling rows to the
    driver (the eager localCheckpoint is a job, not a collect)."""
    from pyspark.sql import DataFrame

    from hllspark.crawl import politeness_waves
    from hllspark.curation import ccnet_buckets, pack_sequences, select_within_budget

    docs = spark.createDataFrame(
        [(i, f"the cat sat {i % 5} on the mat", ["en", "de"][i % 2], i % 7 + 1)
         for i in range(40)],
        "doc_id long, text string, lang string, n int",
    )
    urls = spark.createDataFrame(
        [(f"https://h{i % 3}.example.com/p/{i}",) for i in range(40)], "url string"
    )

    def refuse(self, *args, **kwargs):
        raise AssertionError("driver collect while building the plan")

    with monkeypatch.context() as m:
        for cls in {DataFrame, type(docs)}:
            m.setattr(cls, "collect", refuse)
            m.setattr(cls, "toPandas", refuse)
        built = [
            pack_sequences(docs, "doc_id", "n", 16, num_partitions=4),
            select_within_budget(docs, "doc_id", "n", 100, num_partitions=4),
            ccnet_buckets(docs.drop("n"), num_partitions=4),
            politeness_waves(urls, per_wave=2, num_partitions=4),
        ]
    within = sum(1 for i in range(40) if sum(j % 7 + 1 for j in range(i + 1)) <= 100)
    assert [out.count() for out in built] == [40, within, 40, 40]
