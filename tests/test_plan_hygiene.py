"""Plan hygiene at 100 TB: no query may carry a forced broadcast hint on a
join side that scales with the dataset. A forced ``F.broadcast`` is only
allowed where the side is provably bounded by construction (a 1-row global
aggregate, or a literal-bounded id filter); everywhere else the strategy is
left to Catalyst/AQE, which broadcasts at runtime only when the side is
actually small. Package hygiene rides along: every module must be
reachable from an entry point, and the extraction plan must keep its one
fused Arrow stage."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import dup_ocropy_spark.operators as _ops
from dup_ocropy_spark.operators.registry import REGISTRY

_ops.load_all()

SF_DIR = "/root/testdata/sf0.001"

# forced-broadcast whitelist: side bounded by construction
BOUNDED_HINTS = {
    "h3_font_size_estimate",   # 1-row corpus median
    "ann_cosine_topk",         # N_QUERIES=5 query vectors
    "ann_lsh_topk",            # N_QUERIES x N_TABLES rows
    "ann_ivf_topk",            # N_QUERIES x nprobe rows
    "dedup_embedding_cosine",  # vec_id < 100 literal bound
    "g6_top_separator_runs",   # event_type histogram (tiny cardinality)
}


def test_registry_fits_driver_window():
    """The driver's correctness gate checks exactly the first 50 sorted
    query names — an entry past that silently gets NO correctness row.
    Adding a query requires merging or pruning another (round-1 shipped 7
    unverified queries this way)."""
    assert len(REGISTRY) <= 50, (
        f"{len(REGISTRY)} registered queries; names past the 50-entry "
        f"driver window get no correctness row: "
        f"{sorted(REGISTRY)[50:]}")


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unbounded_broadcast_hints(spark, name):
    df = REGISTRY[name].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_hints = plan.count("strategy=broadcast")
    if name in BOUNDED_HINTS:
        assert n_hints >= 1, f"{name}: expected its bounded broadcast hint"
    else:
        assert n_hints == 0, (
            f"{name}: forced broadcast hint on a side that scales with the "
            f"dataset\n{plan[:2000]}")


_ROOT = Path(__file__).resolve().parents[1]


def _module_file(mod: str) -> Path | None:
    base = _ROOT.joinpath(*mod.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _imported_modules(f: Path) -> set[str]:
    """Every module an ``import`` anywhere in ``f`` names, function-local
    imports included; ``from pkg import name`` also names ``pkg.name``
    (a submodule when such a file exists), and importing a submodule
    imports each enclosing package."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(f.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            pkg = node.module or ""
            if node.level:
                parts = f.relative_to(_ROOT).with_suffix("").parts
                parts = parts[:len(parts) - node.level]
                pkg = ".".join(p for p in (*parts, pkg) if p)
            names.add(pkg)
            names.update(f"{pkg}.{a.name}" for a in node.names)
    return {".".join(n.split(".")[:i + 1])
            for n in names for i in range(n.count(".") + 1)}


def test_every_package_module_is_reachable_from_an_entry_point():
    """Static import graph from the entry points (``__spark_entry__.py``,
    ``bench.py``, ``jobs/*.py``): every ``dup_ocropy_spark`` module must
    be reached, so no module survives that only its own test imports."""
    todo = [_ROOT / "__spark_entry__.py", _ROOT / "bench.py",
            *sorted((_ROOT / "jobs").glob("*.py"))]
    seen = set(todo)
    while todo:
        for mod in _imported_modules(todo.pop()):
            f = _module_file(mod)
            if f is not None and f not in seen:
                seen.add(f)
                todo.append(f)
    package = sorted((_ROOT / "dup_ocropy_spark").rglob("*.py"))
    unreached = [str(f.relative_to(_ROOT)) for f in package if f not in seen]
    assert not unreached, f"modules no entry point imports: {unreached}"


def _ast_names(tree: ast.AST):
    """Every identifier a tree names: variables, attributes, imports."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]


def _top_level_defs(tree: ast.Module):
    """(name, node) for each top-level definition of a module: functions
    and classes without a decorator, and every name an assignment binds
    (dunders such as ``__all__`` excepted)."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node


def test_every_package_function_is_referenced():
    """Every top-level function, class or assigned name in the package
    must be named somewhere outside its own definition — in the package,
    the jobs, the tests, the benchmark or the entry points — so no helper
    or constant survives that nothing reads. A decorated definition
    counts as reached through its decorator (``@register`` puts every
    registry query in the registry)."""
    files = [*sorted((_ROOT / "dup_ocropy_spark").rglob("*.py")),
             *sorted((_ROOT / "jobs").glob("*.py")),
             *sorted((_ROOT / "tests").rglob("*.py")),
             *sorted((_ROOT / "perfbench").rglob("*.py")),
             _ROOT / "bench.py", _ROOT / "__spark_entry__.py"]
    counts: dict[str, int] = {}
    defs = []
    for f in files:
        tree = ast.parse(f.read_text())
        for name in _ast_names(tree):
            counts[name] = counts.get(name, 0) + 1
        if f.is_relative_to(_ROOT / "dup_ocropy_spark"):
            defs += [(f, name, node) for name, node in _top_level_defs(tree)]
    unreferenced = [
        f"{f.relative_to(_ROOT)}:{name}" for f, name, node in defs
        if counts.get(name, 0) == sum(1 for n in _ast_names(node) if n == name)]
    assert not unreferenced, f"definitions nothing names: {unreferenced}"


def _python_nodes(plan: str) -> dict[str, int]:
    return {node: plan.count(node)
            for node in ("MapInArrow", "MapInPandas", "BatchEvalPython",
                         "ArrowEvalPython")}


@pytest.fixture(scope="module")
def transcript_dir(spark, tmp_path_factory):
    from dup_ocropy_spark.sources.transcripts import write_transcripts

    path = str(tmp_path_factory.mktemp("plan_shape_in"))
    write_transcripts(spark, path, 6)
    return path


def test_extract_plan_has_one_arrow_map_and_no_pandas_stage(spark, transcript_dir):
    """The executed plan of ``extract`` holds exactly one Python node, the
    fused ``MapInArrow`` stage: no pandas conversion and no row-at-a-time
    Python UDF on either side of it."""
    from dup_ocropy_spark.plans.extract import extract

    df = extract(spark.read.parquet(transcript_dir))
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _python_nodes(plan) == {"MapInArrow": 1, "MapInPandas": 0,
                                   "BatchEvalPython": 0, "ArrowEvalPython": 0}, plan


def test_streaming_extract_plan_has_one_arrow_map(spark, transcript_dir):
    """The streaming path runs the same single ``MapInArrow`` stage."""
    from dup_ocropy_spark.streaming import extracted_stream
    from dup_ocropy_spark.streaming.extract_stream import transcript_stream

    q = (extracted_stream(transcript_stream(spark, transcript_dir))
         .writeStream.format("noop").trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    finally:
        q.stop()
    assert _python_nodes(plan) == {"MapInArrow": 1, "MapInPandas": 0,
                                   "BatchEvalPython": 0, "ArrowEvalPython": 0}, plan


def test_training_plans_have_one_arrow_map_and_no_pandas_stage(spark, transcript_dir):
    """Classifier training and threshold calibration run the extraction
    chain in one ``MapInArrow`` stage each, with no pandas conversion."""
    from dup_ocropy_spark.operators.train import block_training_frame, score_label_frame

    transcripts = spark.read.parquet(transcript_dir)
    for df in (block_training_frame(transcripts), score_label_frame(transcripts)):
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert _python_nodes(plan) == {"MapInArrow": 1, "MapInPandas": 0,
                                       "BatchEvalPython": 0, "ArrowEvalPython": 0}, plan


def _jobs_started(spark, build, group: str):
    """(build(), number of Spark jobs started while it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan-time check")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_adds_one_round_robin_exchange_to_a_one_split_scan(spark):
    from dup_ocropy_spark.operators.registry import spread_small_input

    par = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out, n_jobs = _jobs_started(spark, lambda: spread_small_input(df),
                                "spread-scan")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert n_jobs == 0
    assert plan.count("Exchange") == 1, plan
    assert f"RoundRobinPartitioning({par})" in plan, plan


def test_spread_leaves_a_scan_with_enough_splits_alone(spark, tmp_path):
    from dup_ocropy_spark.operators.registry import spread_small_input

    par = spark.sparkContext.defaultParallelism
    spark.range(0, 1000, numPartitions=2 * par).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    assert df.rdd.getNumPartitions() >= par
    assert spread_small_input(df) is df


def test_spread_of_a_shuffled_frame_runs_nothing(spark):
    """A frame that already holds an exchange (a ``table()``-spread scan,
    an aggregate) comes back unchanged, and deciding so starts no job:
    asking its RDD for a partition count would run its shuffle stages."""
    from dup_ocropy_spark.operators.registry import spread_small_input, table

    spread = table(spark, SF_DIR, "documents")
    grouped = spark.read.parquet(f"{SF_DIR}/documents.parquet").groupBy("lang").count()
    for name, df in (("table", spread), ("groupby", grouped)):
        out, n_jobs = _jobs_started(spark, lambda: spread_small_input(df),
                                    f"spread-{name}")
        assert n_jobs == 0, name
        assert out is df, name


def test_building_the_curation_plan_runs_nothing(spark):
    from dup_ocropy_spark.plans.cache import release_shared
    from dup_ocropy_spark.plans.curate import curate
    from dup_ocropy_spark.sources.transcripts import synth_transcripts

    transcripts = synth_transcripts(spark, 30)
    try:
        _, n_jobs = _jobs_started(spark, lambda: curate(transcripts), "curate-build")
    finally:
        release_shared()
    assert n_jobs == 0
