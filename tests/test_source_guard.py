"""Source guards. Stored state under ``streaming/`` opens through
``meta_io.open_parquet`` (footer schema, zero Spark jobs), never through
a schema-inferring ``spark.read…parquet(…)`` call: ``meta_io.py`` owns
the Spark fallback. And stored-state directory swaps go through
``commit.publish``: no other module under ``streaming/`` (nor
``extensions/ann.py``) renames or moves paths itself. And the LSM
bucket rule (``F.hash``) appears under ``streaming/`` only in
``lsm.py``, which the vector index uses instead of reaching into the
search index. And the coarse quantizer trains without ``pyspark.ml``.
And the mirror has one layout and one batch merge: ``pipeline.py``
starts one ``foreachBatch`` writer, and no module brings back the
flat sink (``upsert_mirror``, ``CURRENT_LINK``, a ``sink`` parameter).
And every public top-level library definition is reached from a root
(``tools/reach.py``: the entry module, the benchmarks, the examples and
the tools), or is a reference a named test checks reached code against."""

import ast
import os
import sys

STREAMING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "couch_to_postgres_spark",
    "streaming",
)


def _reads_spark(node: ast.AST) -> bool:
    """True for a receiver chain that reaches ``<x>.read`` before any
    ``.write`` (a write of a read frame is a write)."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            if node.attr in ("read", "write"):
                return node.attr == "read"
            node = node.value
        else:
            node = node.func
    return False


def _direct_parquet_reads(source: str) -> dict[str, int]:
    """Count of ``….read….parquet(…)`` calls per enclosing top-level
    function (``<module>`` outside any)."""
    tree = ast.parse(source)
    out: dict[str, int] = {}

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            name = owner
            if owner == "<module>" and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "parquet"
                and _reads_spark(child.func.value)
            ):
                out[name] = out.get(name, 0) + 1
            visit(child, name)

    visit(tree, "<module>")
    return out


def test_detector_sees_every_read_form():
    src = (
        "def f(spark, p):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.option('basePath', p)\n"
        "    c = b.parquet(p)\n"
        "    d = spark.read.schema('x int').parquet(p)\n"
        "    df.write.mode('overwrite').parquet(p)\n"
        "    spark.read.parquet(p).coalesce(1).write.parquet(p)\n"
    )
    # `b.parquet` hides its reader behind a name: three of the four
    # reads are visible, the writes never count
    assert _direct_parquet_reads(src) == {"f": 3}


def test_streaming_opens_stored_state_through_meta_io():
    found = {}
    for name in sorted(os.listdir(STREAMING)):
        if not name.endswith(".py") or name == "meta_io.py":
            continue
        with open(os.path.join(STREAMING, name)) as f:
            reads = _direct_parquet_reads(f.read())
        for owner, n in reads.items():
            found[(name, owner)] = n
    assert not found, (
        "open stored parquet state with meta_io.open_parquet / "
        f"try_open_parquet (zero-job footer schema): {found}"
    )


PACKAGE = os.path.dirname(STREAMING)

#: the moves only ``streaming/commit.py`` may make: every directory swap
#: of stored state goes through ``commit.publish`` (single-file
#: ``os.replace`` stays allowed)
_MOVES = {("os", "rename"), ("shutil", "move")}


def _raw_moves(source: str) -> list[int]:
    """Line numbers of ``os.rename``/``shutil.move`` references,
    imported names included."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and (node.value.id, node.attr) in _MOVES
        ) or (
            isinstance(node, ast.ImportFrom)
            and any((node.module, a.name) in _MOVES for a in node.names)
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_move_detector_sees_every_form():
    src = (
        "import os, shutil\n"
        "from os import rename\n"
        "os.rename(a, b)\n"
        "shutil.move(a, b)\n"
        "f = os.rename\n"
        "os.replace(a, b)\n"
    )
    assert _raw_moves(src) == [2, 3, 4, 5]


def test_directory_swaps_go_through_commit():
    files = [
        os.path.join(STREAMING, n)
        for n in sorted(os.listdir(STREAMING))
        if n.endswith(".py") and n != "commit.py"
    ] + [
        os.path.join(PACKAGE, "extensions", "ann.py"),
        os.path.join(PACKAGE, "operators", "views.py"),
    ]
    found = {}
    for path in files:
        with open(path) as f:
            lines = _raw_moves(f.read())
        if lines:
            found[os.path.relpath(path, PACKAGE)] = lines
    assert not found, (
        "publish stored-state swaps with streaming.commit.publish, not a "
        f"raw rename/move: {found}"
    )


def _hash_calls(source: str) -> list[int]:
    """Line numbers of ``<module>.hash(…)`` calls (``F.hash``)."""
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "hash"
        and isinstance(node.func.value, ast.Name)
    )


def _imports_module(source: str, module: str) -> list[int]:
    """Line numbers of imports that name ``module`` (its dotted path's
    last part), in any import form."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""] + [
                f"{node.module}.{a.name}" for a in node.names
            ]
        else:
            continue
        if any(n.split(".")[-1] == module for n in names):
            lines.append(node.lineno)
    return sorted(set(lines))


def test_lsm_detectors_see_every_form():
    src = (
        "from pyspark.sql import functions as F\n"
        "F.pmod(F.hash('t'), F.lit(4))\n"
        "x.hash\n"
        "from couch_to_postgres_spark.streaming.search_stream import f\n"
        "from couch_to_postgres_spark.streaming import search_stream\n"
        "import couch_to_postgres_spark.streaming.search_stream as ss\n"
        "from couch_to_postgres_spark.streaming import lsm\n"
    )
    assert _hash_calls(src) == [2]
    assert _imports_module(src, "search_stream") == [4, 5, 6]


def test_bucket_rule_lives_in_lsm():
    """The ``pmod(hash(x), n)`` bucket rule has one owner,
    ``streaming/lsm.py``, and the vector index takes the shared LSM
    machinery from there, never from the search index."""
    found = {}
    for name in sorted(os.listdir(STREAMING)):
        if not name.endswith(".py") or name == "lsm.py":
            continue
        with open(os.path.join(STREAMING, name)) as f:
            lines = _hash_calls(f.read())
        if lines:
            found[name] = lines
    with open(os.path.join(STREAMING, "vector_stream.py")) as f:
        lines = _imports_module(f.read(), "search_stream")
    if lines:
        found["vector_stream.py imports search_stream"] = lines
    assert not found, (
        "bucket with lsm.bucket / lsm.term_buckets and take LSM helpers "
        f"from streaming.lsm: {found}"
    )


def _ml_imports(source: str) -> list[int]:
    """Line numbers of imports from ``pyspark.ml`` (any submodule, any
    import form)."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""]
        else:
            continue
        if any(n == "pyspark.ml" or n.startswith("pyspark.ml.") for n in names):
            lines.append(node.lineno)
    return sorted(lines)


def test_ml_import_detector_sees_every_form():
    src = (
        "from pyspark.ml.clustering import KMeans\n"
        "import pyspark.ml\n"
        "from pyspark.ml import Pipeline\n"
        "from pyspark.mllib_like import x\n"
        "from pyspark.sql import functions as F\n"
    )
    assert _ml_imports(src) == [1, 2, 3]


def test_quantizer_and_indexes_train_without_mllib():
    """The coarse quantizer trains on the driver in numpy: nothing under
    ``streaming/``, nor ``extensions/ann.py`` or ``extensions/dedup.py``,
    imports ``pyspark.ml`` (MLlib's iterative ``KMeans`` cost ~20 Spark
    jobs per fit)."""
    files = [
        os.path.join(STREAMING, n)
        for n in sorted(os.listdir(STREAMING))
        if n.endswith(".py")
    ] + [
        os.path.join(PACKAGE, "extensions", n) for n in ("ann.py", "dedup.py")
    ]
    found = {}
    for path in files:
        with open(path) as f:
            lines = _ml_imports(f.read())
        if lines:
            found[os.path.relpath(path, PACKAGE)] = lines
    assert not found, f"pyspark.ml imports: {found}"


def _foreach_batch_calls(source: str) -> list[int]:
    """Line numbers of ``<x>.writeStream.foreachBatch(…)`` calls."""
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "foreachBatch"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "writeStream"
    )


def _flat_sink_defs(source: str) -> list[tuple[int, str]]:
    """``(line, what)`` for each definition of ``upsert_mirror`` or
    ``CURRENT_LINK``, and each function parameter named ``sink``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name == "upsert_mirror":
                found.append((node.lineno, "def upsert_mirror"))
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                if arg.arg == "sink":
                    found.append((node.lineno, f"{node.name}(sink=)"))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and t.id == "CURRENT_LINK":
                    found.append((node.lineno, "CURRENT_LINK"))
    return sorted(found)


def test_merge_detectors_see_every_form():
    src = (
        "CURRENT_LINK = 'current'\n"
        "def upsert_mirror(spark, path, batch):\n"
        "    pass\n"
        "def follow(spark, path, *, sink='partitioned'):\n"
        "    a = stream.writeStream.foreachBatch(merge)\n"
        "    b = stream.writeStream.foreachBatch(other).start()\n"
        "    w.foreachBatch(merge)\n"
    )
    assert _foreach_batch_calls(src) == [5, 6]
    assert _flat_sink_defs(src) == [
        (1, "CURRENT_LINK"), (2, "def upsert_mirror"), (4, "follow(sink=)"),
    ]


def test_one_mirror_layout_and_one_batch_merge():
    """``follow`` and ``follow_couch`` share one merge and one writer
    setup, so ``pipeline.py`` holds a single ``foreachBatch`` writer; and
    the flat MVCC sink stays deleted from every library module."""
    found = {}
    with open(os.path.join(STREAMING, "pipeline.py")) as f:
        calls = _foreach_batch_calls(f.read())
    if len(calls) > 1:
        found["streaming/pipeline.py foreachBatch writers"] = calls
    for root, dirs, files in os.walk(PACKAGE):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                defs = _flat_sink_defs(f.read())
            if defs:
                found[os.path.relpath(path, PACKAGE)] = defs
    assert not found, f"a second merge or flat-sink code: {found}"


REPO = os.path.dirname(PACKAGE)
sys.path.insert(0, os.path.join(REPO, "tools"))

import reach  # noqa: E402

#: public library definitions that no root reaches, each kept because the
#: named test uses it as the reference for code that is reached
REACH_ALLOWLIST = {
    "couch_to_postgres_spark.extensions.ann.dequantize":
        "tests/test_ann.py::test_quantize_reconstruction_error_bounded",
    "couch_to_postgres_spark.extensions.hybrid.rrf_fuse":
        "tests/test_hybrid.py::test_local_fusion_bit_exact_with_spark_rrf",
    "couch_to_postgres_spark.plans.inspect.executed_plan":
        "tests/test_plans.py::test_cdc_merge_never_shuffles_mirror",
    "couch_to_postgres_spark.plans.inspect.formatted_plan":
        "tests/test_ann.py::test_persisted_index_matches_inmemory_and_prunes",
    "couch_to_postgres_spark.plans.inspect.has_broadcast_hash_join":
        "tests/test_plans.py::test_join_broadcasts_small_dim",
    "couch_to_postgres_spark.plans.inspect.num_exchanges":
        "tests/test_plans.py::test_shard_manifest_single_shuffle",
    "couch_to_postgres_spark.plans.inspect.pushed_filters":
        "tests/test_plans.py::test_point_lookup_pushes_filter_to_scan",
    "couch_to_postgres_spark.plans.inspect.scan_read_schema":
        "tests/test_plans.py::test_projection_prunes_columns",
}


def _unreached_public(root: str) -> list[str]:
    """``module.name`` of every public top-level library definition under
    ``root`` that ``tools/reach.py`` finds unreached."""
    return sorted(
        f"{r['module']}.{r['name']}"
        for r in reach.Graph(root).unreached()
        if r["public"]
    )


def test_reach_detector_sees_every_form(tmp_path):
    files = {
        "couch_to_postgres_spark/__init__.py": (
            "from couch_to_postgres_spark.lib import exported\n"
        ),
        "couch_to_postgres_spark/lib.py": (
            "__all__ = ['listed']\n"
            "def direct(): pass\n"
            "def via_attr(): pass\n"
            "def aliased(): pass\n"
            "def deco(f): return f\n"
            "def helper(): pass\n"
            "class Runner:\n"
            "    def run(self): helper()\n"
            "def by_name(): pass\n"
            "def exported(): pass\n"
            "def _setup(): pass\n"
            "_setup()\n"
            "def listed(): pass\n"
            "def unused(): direct()\n"
            "def _orphan(): pass\n"
        ),
        "examples/demo.py": (
            "import couch_to_postgres_spark.lib as L\n"
            "from couch_to_postgres_spark import exported\n"
            "from couch_to_postgres_spark.lib import direct\n"
            "from couch_to_postgres_spark.lib import aliased as al\n"
            "from couch_to_postgres_spark.lib import deco, Runner\n"
            "direct()\n"
            "L.via_attr()\n"
            "al()\n"
            "@deco\n"
            "def main(): Runner().run()\n"
            "getattr(L, 'by_name')()\n"
            "exported()\n"
        ),
        # tests are not roots
        "tests/test_lib.py": (
            "from couch_to_postgres_spark.lib import listed, unused\n"
            "listed(); unused()\n"
        ),
    }
    for rel, text in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    rows = reach.Graph(str(tmp_path)).unreached()
    # a direct call, module.attr access, ``import … as``, decorator use,
    # a helper reached through a reached class's method, a string-named
    # attribute, a package re-export and an import-time call all reach;
    # ``__all__`` and test references do not
    assert sorted(r["name"] for r in rows) == ["_orphan", "listed", "unused"]
    assert {r["name"]: r["public"] for r in rows} == {
        "_orphan": False, "listed": True, "unused": True,
    }
    assert all(r["code_lines"] == 1 for r in rows)
    assert _unreached_public(str(tmp_path)) == [
        "couch_to_postgres_spark.lib.listed",
        "couch_to_postgres_spark.lib.unused",
    ]


def test_every_public_definition_is_reached():
    """A public library definition is reached from a root, or the
    allowlist names the test that uses it as a reference; an entry that
    is reached now, or whose test does not name it, is stale."""
    unreached = _unreached_public(REPO)
    assert sorted(set(unreached) - set(REACH_ALLOWLIST)) == [], (
        "public definitions nothing reaches: delete them, or reach them "
        "from an example"
    )
    assert sorted(set(REACH_ALLOWLIST) - set(unreached)) == [], (
        "allowlisted definitions that are reached now"
    )
    for qualname, test in REACH_ALLOWLIST.items():
        rel, func = test.split("::")
        with open(os.path.join(REPO, rel)) as f:
            tree = ast.parse(f.read())
        body = next(
            (n for n in tree.body
             if isinstance(n, ast.FunctionDef) and n.name == func),
            None,
        )
        assert body is not None, test
        names = {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(body)
            if isinstance(n, (ast.Name, ast.Attribute))
        }
        assert qualname.rsplit(".", 1)[1] in names, (qualname, test)
