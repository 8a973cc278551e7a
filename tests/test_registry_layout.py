"""The registry is laid out by family: every query lives in the module
``queries.FAMILY`` names for its prefix, only ``registry.py`` reaches
into ``queries/`` from the rest of the package, and the registry order
depends on the query names and the driver's record, not on which
module registers a query or in what order the modules are imported.
Every top-level package definition is reachable from the registry, the
serving handler or a benchmark entry point, and every defaulted
parameter takes two or more values among them.  A query whose oracle
text Spark can run keeps a body of its own only for a stated reason.  The operator
modules spell each shared ranking and n-gram rule, and the df-capped
shingle front end, in one helper."""
from __future__ import annotations

import ast
import glob
import json
import os
import random

import pytest
from pyspark.errors import AnalysisException, NumberFormatException

import go_mailio_diskusage_handler_spark as pkg
from go_mailio_diskusage_handler_spark.queries import FAMILY, freshness
from go_mailio_diskusage_handler_spark.queries._base import ONE_TEXT
from go_mailio_diskusage_handler_spark.registry import ORACLE_SQL, QUERIES
from go_mailio_diskusage_handler_spark.sources.tables import register_views

from conftest import SF_SMOKE

PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))
QUERIES_DIR = os.path.join(PKG_DIR, "queries")
REPO_ROOT = os.path.dirname(PKG_DIR)


def test_each_query_lives_in_its_family_module():
    wrong = {
        name: fn.__module__
        for name, fn in QUERIES.items()
        if fn.__module__ != f"{pkg.__name__}.queries.{FAMILY[name.split('_')[0]]}"
    }
    assert not wrong
    modules = {f[:-3] for f in os.listdir(QUERIES_DIR) if f.startswith("q_")}
    assert modules == set(FAMILY.values())
    assert not [m for m in modules if m.startswith("q_round")]


def _imported_modules(path: str) -> set[str]:
    """Absolute names of the modules ``path`` imports from."""
    rel = os.path.relpath(path, os.path.dirname(PKG_DIR))
    package = rel.split(os.sep)[:-1]  # relative imports resolve from here
    out = set()
    with open(path) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            out |= {mod} | {f"{mod}.{a.name}" for a in node.names}
    return out


def test_only_the_registry_imports_query_modules():
    prefix = f"{pkg.__name__}.queries"
    offenders = {}
    for root, _, files in os.walk(PKG_DIR):
        if root.startswith(QUERIES_DIR):
            continue
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(PKG_DIR, "registry.py"):
                continue
            hits = {
                m for m in _imported_modules(path)
                if m == prefix or m.startswith(prefix + ".")
            }
            if hits:
                offenders[os.path.relpath(path, REPO_ROOT)] = sorted(hits)
    assert not offenders


def _returns_dataframe(fn: ast.FunctionDef) -> bool:
    ann = fn.returns
    if isinstance(ann, ast.Constant):
        return ann.value == "DataFrame"
    return (isinstance(ann, ast.Name) and ann.id == "DataFrame") or (
        isinstance(ann, ast.Attribute) and ann.attr == "DataFrame"
    )


def test_query_signatures_live_only_in_queries():
    """A ``(spark, sf_dir) -> DataFrame`` function is a query body, and
    query bodies live in ``queries/``; one outside would be a second
    layer that a registered query merely delegates to."""
    offenders = []
    for root, _, files in os.walk(PKG_DIR):
        if root.startswith(QUERIES_DIR):
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and [a.arg for a in node.args.args] == ["spark", "sf_dir"]
                    and not node.args.vararg
                    and not node.args.kwonlyargs
                    and not node.args.kwarg
                    and _returns_dataframe(node)
                ):
                    offenders.append(f"{os.path.relpath(path, REPO_ROOT)}:{node.name}")
    assert not offenders


@pytest.mark.parametrize("seed", range(5))
def test_driver_order_ignores_registration_order(seed):
    names = list(QUERIES)
    shuffled = names[:]
    random.Random(seed).shuffle(shuffled)
    with open(os.path.join(REPO_ROOT, "ORACLE_HASHES.json")) as fh:
        oracle_round = {n: v["round"] for n, v in json.load(fh).items()}
    last = freshness.last_checked(REPO_ROOT)
    assert freshness.driver_order(shuffled, last, oracle_round) == names


_API = "runs a Spark API that its text does not run: "
_DECIMAL = "its text runs, but Spark returns a decimal where DuckDB returns a double"
# Registered queries outside ``ONE_TEXT`` whose oracle text passes
# Spark analysis, each with the reason it keeps a body of its own.
TEXT_KEPT = {
    "approx_distinct_customers": _API + "the HyperLogLog++ sketch",
    "approx_top_event_types": _API + "the approx_top_k sketch",
    "events_bitmap_users": _API + "the bitmap aggregates",
    "events_kll_quantiles": _API + "the KLL quantile sketch",
    "events_sketch_merge": _API + "the HLL sketch merge",
    "sim_pca_project": _API + "the mapInPandas moment partials",
    "sql_bloom_probe_revenue": _API + "the runtime bloom-filter join",
    "sql_function_bands": _API + "SQL functions (CREATE FUNCTION)",
    "sql_parameterized_revenue": _API + "named parameter binding",
    "sql_pipe_priority_revenue": _API + "the pipe syntax",
    "sql_scripting_threshold": _API + "SQL scripting",
    "sql_recursive_spine": "its text runs only under the recursion limit its body sets",
    "stat_crosstab_priority": _API + "df.stat.crosstab",
    "udaf_weighted_avg_price": _API + "a pandas UDAF",
    "udf_cogroup_arrow_stats": _API + "cogrouped applyInArrow",
    "udf_grouped_map_zscore": _API + "grouped-map applyInPandas",
    "udtf_table_arg_changes": _API + "a Python UDTF with a TABLE argument",
    "join_bucketed_spend": _API + "a bucketed, shuffle-free join",
    "scalar_transpose_metrics": _API + "DataFrame.transpose",
    "scalar_xml_orders": _API + "XML parsing, which its text never does",
    "scalar_null_guards": _API + "nullifzero, zeroifnull, nvl2 and try_divide, "
    "which its text spells as NULLIF, COALESCE and CASE",
    "unpivot_lineitem_measures": "its body unpivots one scan; its text is a 4-scan UNION ALL",
    "range_join_price_bands": "its body is a grid equi-join; its text plans a nested loop",
    "profile_orders": "its body profiles in 1 shuffle; its text takes 6",
    "salted_event_totals": "its body salts the skewed key; its text does not",
    "dq_orders_constraints": "its text moves the plan shape; not yet probed",
    "events_concentration": "its text moves the plan shape; not yet probed",
    "setop_lapsed_customers": "its text moves the plan shape; not yet probed",
    "window_first_last": "its body deduplicates before it rounds; its text was "
    "1.12x slower at sf0.1",
    "docs_index_coverage": _DECIMAL,
    "docs_length_histogram": _DECIMAL,
    "events_markov_stationary": _DECIMAL,
    "events_transitions": _DECIMAL,
    "part_affinity_lift": _DECIMAL,
    "profile_join_skew": _DECIMAL,
    "scalar_map_hof_shares": _DECIMAL,
    "scalar_width_bucket_hist": _DECIMAL,
}


def test_queries_whose_text_runs_on_spark_are_one_text_or_kept(spark):
    """A body beside an oracle text that Spark can run re-spells that
    text, unless the query exists to run what the text does not.
    Analysis only: nothing executes."""
    register_views(spark, SF_SMOKE)
    analyzes = set()
    for name, text in ORACLE_SQL.items():
        if name in ONE_TEXT:
            continue
        try:
            spark.sql(text).schema
        except (AnalysisException, NumberFormatException):
            continue  # DuckDB dialect that Spark does not parse or resolve
        analyzes.add(name)
    assert not set(TEXT_KEPT) & set(ONE_TEXT)
    assert set(TEXT_KEPT) <= analyzes, "stale TEXT_KEPT entries"
    assert analyzes <= set(TEXT_KEPT), (
        f"register as one text, or keep with a reason: {sorted(analyzes - set(TEXT_KEPT))}"
    )


# Top-level package definitions that no root reaches, each kept for a
# reason a test states.
REACHABILITY_ALLOWED = {
    "session.configure_s3a": "the reference's real S3 I/O; the S3 integration test covers it",
    "sources.manifest.boto3_download": "the reference's real S3 I/O; the S3 integration test covers it",
    "plans.executed_plan": "plan-inspection helper for tests",
    "plans.formatted": "plan-inspection helper for tests",
    "plans.has_broadcast_join": "plan-inspection helper for tests",
    "plans.shuffle_count": "plan-inspection helper for tests",
    "plans.plan_shape": "what PLAN_BASELINE.json records; its tool and its test share it",
    "sources.tables.invalidate_view_memo": "test fixture: drops the per-session view memo",
    "functions.udfs.per_user_zscores_pandas": "pandas reference the Arrow z-score path is checked against",
    "functions.udfs._zscore_group": "pandas reference the Arrow z-score path is checked against",
}


class _Module:
    """One parsed module: its top-level bindings, the code that runs on
    import, and every name its imports bind (nested imports included)."""

    def __init__(self, name: str, path: str, package: str, modules) -> None:
        with open(path) as fh:
            self.tree = ast.parse(fh.read())
        self.name = name
        self.defs: dict[str, ast.stmt] = {}
        self.loose: list[ast.stmt] = []
        for node in _flat_body(self.tree.body):
            bound = _bound_names(node)
            self.defs.update(dict.fromkeys(bound, node))
            if not bound and not isinstance(node, (ast.Import, ast.ImportFrom)):
                self.loose.append(node)
        self.aliases: dict[str, set[tuple[str, str | None]]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    local = a.asname or a.name.split(".")[0]
                    self.aliases.setdefault(local, set()).add(
                        (a.name if a.asname else local, None)
                    )
            elif isinstance(node, ast.ImportFrom):
                parts = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(
                    (parts if node.level else []) + ([node.module] if node.module else [])
                )
                for a in node.names:
                    sub = f"{base}.{a.name}"
                    target = (sub, None) if sub in modules else (base, a.name)
                    self.aliases.setdefault(a.asname or a.name, set()).add(target)


def _flat_body(body):
    for node in body:
        if isinstance(node, ast.If):
            yield from _flat_body(node.body + node.orelse)
        elif isinstance(node, ast.Try):
            yield from _flat_body(node.body + node.orelse + node.finalbody)
            for h in node.handlers:
                yield from _flat_body(h.body)
        else:
            yield node


def _bound_names(node) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return []


def _reach():
    """Walk the package from its roots.  The roots: the query modules,
    ``registry.py``, ``DiskUsageHandler``, ``bench.py``,
    ``__spark_entry__.py`` and ``perfbench/``.  A reached definition
    reaches what its body names, resolved through its module's own
    bindings and imports; importing a module runs its top-level code.
    Returns the parsed package modules, the reached ``(module, name)``
    pairs, every ``(module, node)`` walked, and the resolver from an
    identifier in a module to the ``(module, name)`` it binds, where a
    name of ``None`` is the module itself."""
    paths = {}
    for path in glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, REPO_ROOT)[:-3].split(os.sep)
        paths[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    mods = {}
    for name, path in paths.items():
        package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
        mods[name] = _Module(name, path, package, paths)
    reached: set[tuple[str, str]] = set()
    imported: set[str] = set()
    todo: list[tuple[_Module, ast.AST]] = []

    def mark(mod: str, name: str | None, seen=frozenset()) -> None:
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            pm = ".".join(parts[:i])
            if pm in mods and pm not in imported:
                imported.add(pm)
                todo.extend((mods[pm], node) for node in mods[pm].loose)
        m = mods.get(mod)
        if m is None or name is None or (mod, name) in seen:
            return
        if name in m.defs:
            if (mod, name) not in reached:
                reached.add((mod, name))
                todo.append((m, m.defs[name]))
        for target in m.aliases.get(name, ()):  # a re-export
            mark(*target, seen=seen | {(mod, name)})

    def resolve(m: _Module, ident: str):
        return {(m.name, ident)} if ident in m.defs else m.aliases.get(ident, set())

    for name in mods:
        if name.startswith(f"{pkg.__name__}.queries") or name == f"{pkg.__name__}.registry":
            for d in [None, *mods[name].defs]:
                mark(name, d)
    mark(f"{pkg.__name__}.streaming.refresh", "DiskUsageHandler")
    for path in [
        os.path.join(REPO_ROOT, "bench.py"),
        os.path.join(REPO_ROOT, "__spark_entry__.py"),
        *glob.glob(os.path.join(REPO_ROOT, "perfbench", "*.py")),
    ]:
        if not os.path.basename(path).startswith("test_"):
            entry = _Module(os.path.basename(path)[:-3], path, "", paths)
            todo.append((entry, entry.tree))
    walked: list[tuple[_Module, ast.AST]] = []
    while todo:
        m, node = todo.pop()
        walked.append((m, node))
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                for target in resolve(m, sub.id):
                    mark(*target)
            elif isinstance(sub, ast.Attribute):
                for targets in _chain(mods, resolve, m, sub):
                    for target in targets:
                        mark(*target)
    return mods, reached, walked, resolve


def _chain(mods, resolve, m: _Module, node: ast.Attribute) -> list[set]:
    """The targets of each link of an attribute chain: `mod.sub.name`
    walks module by module, so the last set is what the chain names."""
    chain = []
    base = node
    while isinstance(base, ast.Attribute):
        chain.append(base.attr)
        base = base.value
    if not isinstance(base, ast.Name):
        return []
    targets = resolve(m, base.id)
    links = []
    for attr in reversed(chain):
        targets = {
            (f"{mod}.{attr}", None) if f"{mod}.{attr}" in mods else (mod, attr)
            for mod, name in targets
            if name is None
        }
        links.append(targets)
    return links


def _unreached_definitions() -> dict[str, int]:
    """``module.name`` -> line count of every top-level package
    definition that no root reaches by name (see :func:`_reach`)."""
    mods, reached, _, _ = _reach()
    out = {}
    for name, m in mods.items():
        for d, node in m.defs.items():
            if (name, d) not in reached and not (d.startswith("__") and d.endswith("__")):
                rel = name[len(pkg.__name__) + 1:]
                out[f"{rel}.{d}"] = node.end_lineno - node.lineno + 1
    return out


def test_package_definitions_reachable_from_roots():
    """Code that only tests reach is not part of the engine: it either
    gains a caller among the roots or goes, with its tests."""
    unreached = _unreached_definitions()
    assert set(REACHABILITY_ALLOWED) <= set(unreached), "stale allow-list entries"
    offenders = {k: v for k, v in unreached.items() if k not in REACHABILITY_ALLOWED}
    assert not offenders, (
        f"{sum(offenders.values())} lines of package definitions reached by "
        f"no root: {sorted(offenders)}"
    )


# Defaulted parameters (see `_unselected_defaulted_parameters`) with
# fewer than two values among the roots, each kept for a reason a test
# states.
_SKEW = "tests use the unguarded path as the reference the skew guard is checked against"
_S3A = "a deployment setting of the reference's real S3 I/O; the S3 integration test covers it"
_HANDLER = (
    "a deployment setting or test seam of the reference constructor "
    "(handler.go:39-60): a deployment runs the default, perfbench's "
    "handler and test_ingest.py's handlers other values"
)
_POINT_AS_OVERLAP = (
    "test_point_join_is_degenerate_overlap joins point intervals on columns s/e and ps/pe"
)
DEFAULTED_PARAMETERS_ALLOWED = {
    "operators.curation.mixture_rebalance.skew_guard": _SKEW,
    "operators.curation.stratified_split.skew_guard": _SKEW,
    "session.configure_s3a.access_key": _S3A,
    "session.configure_s3a.endpoint": _S3A,
    "session.configure_s3a.path_style": _S3A,
    "session.configure_s3a.region": _S3A,
    "session.configure_s3a.secret_key": _S3A,
    "streaming.refresh.DiskUsageHandler.__init__.quality_gate":
        "a deployment policy over outside input; the handler tests pass their own gates",
    "operators.dedup.connected_components.max_iterations":
        "the only way test_connected_components_strict_raises_on_non_convergence "
        "reaches the non-convergence raise",
    "operators.dedup.ngram_containment_pairs.threshold":
        "test_containment_matches_python_reference draws the threshold",
    "operators.dedup.trim_duplicated_spans.n":
        "test_span_trim_invariants_hold_for_arbitrary_corpora needs n=4 "
        "for its generated docs to collide",
    "operators.multimodal.shard_plan.shard_bytes":
        "test_media_shard_plan_matches_prefix_sum_reference draws budgets "
        "below its generated asset sizes",
    "operators.sessions.funnel_within.within_hours":
        "test_funnel_window_bounds_conversions checks a huge "
        "window against the unbounded funnel",
    "operators.similarity.kmeans_train.iters":
        "test_kmeans_iterations_do_not_increase_inertia compares 1 and 2 rounds",
    "operators.similarity.kmeans_train.k":
        "test_kmeans_separates_well_separated_clusters fits its two blobs with k=2",
    "operators.similarity.mmr_rerank_topk.k":
        "test_mmr_diversifies_near_duplicate_neighbors pins a 3-deep ranking",
    "operators.similarity.mmr_rerank_topk.lam":
        "test_mmr_diversifies_near_duplicate_neighbors needs lam=0.5 "
        "for diversity to beat relevance",
    "operators.text.chunk_documents.stride":
        "test_chunking_known_values hand-checks window=4, stride=3",
    "operators.text.chunk_documents.window":
        "test_chunking_known_values hand-checks window=4, stride=3",
    "operators.text.tfidf_cosine_pairs.threshold":
        "test_tfidf_cosine_weights_rare_terms checks cosines below the default",
    "operators.sessions.watermark_delay_plan.arrival":
        "test_watermark_plan_measures_reordering orders arrival by the default event_id",
    "functions.udfs.widen_path_segments.depth":
        "test_widen_udtf_schema_follows_constant_depth compares depth 2 and 4",
    "operators.curation.mixture_rebalance.per_source_cap":
        "test_mixture_rebalance_caps_every_source caps at 7",
    "operators.curation.pack_sequences.max_tokens":
        "test_pack_sequences_matches_prefix_sum_reference draws the budget",
    "operators.dedup.cap_shingle_df.max_doc_freq":
        "test_shingle_df_cap_matches_python_reference draws the cap; "
        "test_shingle_df_cap_drops_heavy_hitter needs 3",
    "operators.dedup.minhash_dedup_pairs.threshold":
        "test_minhash_lsh_recall_vs_exact measures recall at 0.9",
    "operators.dedup.prefix_filter_jaccard_pairs.threshold":
        "test_prefix_filter_is_lossless_and_prunes_candidates checks losslessness at 0.6",
    "operators.dedup.weighted_jaccard_pairs.threshold":
        "test_weighted_jaccard_matches_manual_math needs 0.01 to keep its low-score pairs",
    "operators.intervals.interval_join.bin_width":
        "test_interval_join_operator_bin_width_invariance sweeps the widths",
    "operators.intervals.overlap_join.bin_width":
        "test_overlap_join_bin_width_invariance sweeps the widths",
    "operators.intervals.overlap_join.left_start": _POINT_AS_OVERLAP,
    "operators.intervals.overlap_join.left_end": _POINT_AS_OVERLAP,
    "operators.intervals.overlap_join.right_start": _POINT_AS_OVERLAP,
    "operators.intervals.overlap_join.right_end": _POINT_AS_OVERLAP,
    "streaming.refresh.DiskUsageHandler.__init__.autostart": _HANDLER,
    "streaming.refresh.DiskUsageHandler.__init__.clock": _HANDLER,
    "streaming.refresh.DiskUsageHandler.__init__.eager": _HANDLER,
    "streaming.refresh.DiskUsageHandler.__init__.path_scheme": _HANDLER,
    "streaming.refresh.DiskUsageHandler.__init__.serving": _HANDLER,
}


def _defaults(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    """Defaulted parameter -> its default's node."""
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    out = dict(zip(pos[len(pos) - len(fn.args.defaults):], fn.args.defaults))
    out.update(
        (a.arg, d) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None
    )
    return out


def _params(fn) -> set[str]:
    a = fn.args
    return {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}


def _calls(node: ast.AST, scope: tuple = ()):
    """Every call under ``node`` with the functions enclosing it,
    innermost last."""
    if isinstance(node, ast.Call):
        yield node, scope
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        scope = scope + (node,)
    for child in ast.iter_child_nodes(node):
        yield from _calls(child, scope)


def _passed(call: ast.Call, param: str, position: int | None, skip: int):
    """What ``call`` passes for ``param``: the argument's node, ``True``
    for a splat that may carry it, ``None`` if it does not pass it.
    ``skip`` leading parameters (a method's ``self``) take no argument."""
    for kw in call.keywords:
        if kw.arg == param:
            return kw.value
        if kw.arg is None:
            return True
    if position is None:
        return None
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return True
        if i + skip == position:
            return arg
    return None


_ANY = "any value"  # an argument whose value the scan cannot tell


def _unselected_defaulted_parameters() -> list[str]:
    """``module.function.parameter`` of every defaulted parameter of a
    package function or method that no root selects.

    A root selects it when the call sites reached from the roots of
    :func:`_reach` use two or more distinct values for it.  A call that
    leaves it out uses the default; a name bound to a module constant
    is that constant's literal (``TOP_K`` is ``5``); a lambda is one
    value; a forward of the caller's own parameter (``k=k``) uses that
    parameter's values.  Any other argument, or a splat, may hold any
    value, so it selects."""
    mods, _, walked, resolve = _reach()
    functions: dict[tuple[str, str], ast.FunctionDef] = {}
    for name, m in mods.items():
        for d, node in m.defs.items():
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                functions[(name, d)] = node
            elif isinstance(node, ast.ClassDef):
                for sub in node.body:
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        functions[(name, f"{d}.{sub.name}")] = sub
    key_of = {id(fn): key for key, fn in functions.items()}

    def definition(target, seen=frozenset()):
        mod, name = target
        m = mods.get(mod)
        if m is None or name is None or target in seen:
            return None
        if name in m.defs:
            return target
        for t in m.aliases.get(name, ()):  # a re-export
            found = definition(t, seen | {target})
            if found:
                return found
        return None

    def callees(m: _Module, func: ast.expr) -> list[tuple[tuple[str, str], int]]:
        """The package functions a call may run, each with the number
        of leading parameters (``self``) its positional arguments skip."""
        if isinstance(func, ast.Name):
            targets = resolve(m, func.id)
        elif isinstance(func, ast.Attribute):
            links = _chain(mods, resolve, m, func)
            targets = links[-1] if links else set()
        else:
            return []
        out = []
        for mod, name in filter(None, map(definition, targets)):
            if (mod, name) in functions:
                out.append(((mod, name), 0))
            elif (mod, f"{name}.__init__") in functions:
                out.append(((mod, f"{name}.__init__"), 1))
        if not out and isinstance(func, ast.Attribute):
            # `obj.method(...)`: any package method of that name
            out = [
                (key, 1) for key in functions
                if key[1].rpartition(".")[2] == func.attr and "." in key[1]
            ]
        return out

    def literal(m: _Module, node: ast.expr, seen=frozenset()) -> str:
        """A literal's value, the value of the module constant a name is
        bound to, or a lambda; ``_ANY`` for anything else."""
        try:
            value = ast.literal_eval(node)
            return f"{type(value).__name__}:{value!r}"
        except ValueError:
            pass
        if isinstance(node, ast.Name):
            for found in filter(None, map(definition, resolve(m, node.id))):
                bound = mods[found[0]].defs[found[1]]
                if (
                    found not in seen
                    and isinstance(bound, ast.Assign)
                    and [getattr(t, "id", None) for t in bound.targets] == [found[1]]
                ):
                    return literal(mods[found[0]], bound.value, seen | {found})
        if isinstance(node, ast.Lambda):  # one function per spelling
            return f"lambda at {m.name}:{node.lineno}:{node.col_offset}"
        return _ANY

    # (callee, parameter) -> one entry per reached call site: the value
    # it uses, or the caller's forwarded (function, parameter)
    uses: dict[tuple, list] = {}
    for m, node in walked:
        for call, scope in _calls(node):
            for key, skip in callees(m, call.func):
                fn = functions[key]
                positional = [a.arg for a in fn.args.posonlyargs + fn.args.args]
                defaults = _defaults(fn)
                for param in _params(fn):
                    position = positional.index(param) if param in positional else None
                    value = _passed(call, param, position, skip)
                    if value is None and param in defaults:
                        use = literal(mods[key[0]], defaults[param])
                    elif value is None:
                        continue
                    elif value is True:
                        use = _ANY
                    elif isinstance(value, ast.Name) and any(
                        value.id in _params(f) for f in scope
                    ):
                        owner = next(f for f in reversed(scope) if value.id in _params(f))
                        use = (key_of[id(owner)], value.id) if id(owner) in key_of else _ANY
                    else:
                        use = literal(m, value)
                    uses.setdefault((key, param), []).append(use)
    memo: dict[tuple, set[str]] = {}

    def values(target) -> set[str]:
        if target not in memo:
            memo[target] = set()  # a forwarding cycle adds no value
            if target in uses:
                memo[target] = set().union(
                    *(values(u) if isinstance(u, tuple) else {u} for u in uses[target])
                )
            else:  # reached by reference only: called with its default
                key, param = target
                default = _defaults(functions[key]).get(param)
                memo[target] = {_ANY if default is None else literal(mods[key[0]], default)}
        return memo[target]

    return sorted(
        f"{mod[len(pkg.__name__) + 1:]}.{name}.{param}"
        for (mod, name), fn in functions.items()
        for param in _defaults(fn)
        if len(v := values(((mod, name), param))) < 2 and _ANY not in v
    )


def test_defaulted_parameters_selected_by_a_root():
    """A defaulted parameter that the roots use at one value or none is
    configuration that no workload varies: its value becomes a module
    constant, or the allow-list says why it stays."""
    unselected = _unselected_defaulted_parameters()
    assert set(DEFAULTED_PARAMETERS_ALLOWED) <= set(unselected), "stale allow-list entries"
    offenders = [p for p in unselected if p not in DEFAULTED_PARAMETERS_ALLOWED]
    assert not offenders, (
        f"{len(offenders)} defaulted parameters that the roots use at fewer "
        f"than two values: {offenders}"
    )


def _is_query_window(node: ast.AST) -> bool:
    """``Window.partitionBy("query_id")``"""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "partitionBy"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "Window"
        and [getattr(a, "value", None) for a in node.args] == ["query_id"]
    )


def _is_span_gram_text(node: ast.AST) -> bool:
    """A string constant that spells the span-gram expression."""
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "transform(sequence(1, size(t)" in node.value
    )


def _called(node: ast.AST, name: str) -> bool:
    """A call of ``name`` or of ``module.name``."""
    return isinstance(node, ast.Call) and name in (
        getattr(node.func, "id", None), getattr(node.func, "attr", None)
    )


def _is_capped_shingles(node: ast.AST) -> bool:
    """``cap_shingle_df(shingles(...))``"""
    return (
        _called(node, "cap_shingle_df")
        and bool(node.args)
        and _called(node.args[0], "shingles")
    )


# Rule -> (its matcher, the one operator helper allowed to spell it).
ONE_DEFINITION = {
    "per-query top-k window": (_is_query_window, "top_per_query"),
    "span-gram expression": (_is_span_gram_text, "span_grams"),
    "df-capped shingle front end": (_is_capped_shingles, "capped_shingles"),
}


def _docstrings(tree: ast.Module) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def test_shared_rules_are_spelled_only_in_their_helper():
    """A copy of a shared rule drifts from its oracle mirror on its own:
    each rule is spelled once, in its helper, and every operator calls
    that.  Docstrings may name a rule; code may not copy it."""
    copies: dict[str, list[str]] = {}
    for path in sorted(glob.glob(os.path.join(PKG_DIR, "operators", "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        skip = _docstrings(tree)
        scopes = [(None, tree.body)] + [
            (node.name, [node]) for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        ]
        for owner, body in scopes:
            nodes = [
                sub for stmt in body
                if owner is not None or not isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                for sub in ast.walk(stmt)
                if id(sub) not in skip
            ]
            for rule, (matches, helper) in ONE_DEFINITION.items():
                if owner != helper:
                    copies.setdefault(rule, []).extend(
                        f"{os.path.basename(path)}:{n.lineno} ({owner})"
                        for n in nodes if matches(n)
                    )
    offenders = {rule: where for rule, where in copies.items() if where}
    assert not offenders, f"rules spelled outside their helper: {offenders}"
