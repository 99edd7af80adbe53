"""The package reads no ``PDFP_*`` environment variables: its behaviour
follows from its arguments and the Spark session alone, the extraction
entry points name every option they take, and the kernels declare no
output format and no regex dialect of their own. No Spark."""

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / (
    "pdf_parser_python_spark")


def test_package_has_no_pdfp_env_knobs():
    files = sorted(PACKAGE.rglob("*.py"))
    assert files
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{n}"
        for path in files
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "PDFP_" in line
    ]
    assert hits == []


def test_pipeline_entry_points_declare_no_kwargs():
    """A public ``plans.pipeline`` function names its options, so a
    misspelled or unsupported one is a TypeError, not silently
    dropped."""
    tree = ast.parse((PACKAGE / "plans" / "pipeline.py").read_text())
    public = [
        node for node in tree.body
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_")
    ]
    assert {f.name for f in public} >= {
        "extract_questions", "extract_flat_spans", "extract_validation",
        "extract_doc_text", "extract_question_scalars", "parse_raw"}
    assert [f.name for f in public if f.args.kwarg is not None] == []


def test_operators_declare_no_arrow_schema():
    """Kernel output formats are declared once, in ``schema.py``: no
    operator builds an Arrow schema or field of its own."""
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted((PACKAGE / "operators").glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("schema", "field")
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "pa"
    ]
    assert hits == []


def test_package_reuses_only_through_dedup_reuse():
    """No operator caches in the session: ``persist()`` and ``cache()``
    register a plan in the CacheManager, which keeps it past the frame
    that made it. The one reuse point is ``operators.dedup._reuse``, a
    local checkpoint whose blocks are freed with its frame."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        reuse = [
            node for fn in tree.body
            if path == PACKAGE / "operators" / "dedup.py"
            and isinstance(fn, ast.FunctionDef) and fn.name == "_reuse"
            for node in ast.walk(fn)
        ]
        hits += [
            f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
            f" .{node.func.attr}("
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache", "localCheckpoint")
            and node not in reuse
        ]
    assert hits == []


def test_operators_make_no_python_side_tables():
    """An operator builds no DataFrame from Python rows:
    ``createDataFrame``/``parallelize`` inside a plan runs a Python-RDD
    job, which starts a second Python worker pool beside the kernels'.
    The two synthetic-media fixtures in ``media`` are the only
    makers."""
    allowed = {("media.py", "synthetic_media"),
               ("media.py", "synthetic_bmp_media")}
    hits = [
        f"{path.name}:{node.lineno}"
        for path in sorted((PACKAGE / "operators").glob("*.py"))
        for top in ast.parse(path.read_text()).body
        if (path.name, getattr(top, "name", None)) not in allowed
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("createDataFrame", "parallelize")
    ]
    assert hits == []


#: spellings of the anchor grammar (functions/anchors.py)
_GRAMMAR = ("Question\\s", "HOTSPOT", "Answer|Ans|Key",
            "Explanation|Reference")

#: a regex ``\s``/``\S``/``\d`` as the text a rewrite looks for
_ESCAPE = re.compile(r"\\+\(?\[?[sSd]")


def test_only_anchors_renders_the_grammar():
    """``functions/anchors.py`` is the one module that turns the grammar
    into a regex engine's dialect: no module under ``operators/`` or
    ``plans/`` holds a grammar literal in a string constant (docstrings
    aside) or rewrites a regex ``\\s``/``\\d`` with ``replace``/``sub``."""
    hits = []
    for path in sorted([*(PACKAGE / "operators").glob("*.py"),
                        *(PACKAGE / "plans").glob("*.py")]):
        tree = ast.parse(path.read_text())
        docs = {
            id(node.body[0].value) for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and node.body and isinstance(node.body[0], ast.Expr)
        }
        where = f"{path.relative_to(PACKAGE.parent)}"
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and id(node) not in docs):
                hits += [f"{where}:{node.lineno} {g}"
                         for g in _GRAMMAR if g in node.value]
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("replace", "sub")
                    and node.args and isinstance(node.args[0], ast.Constant)
                    and isinstance(node.args[0].value, str)
                    and _ESCAPE.search(node.args[0].value)):
                hits.append(f"{where}:{node.lineno} rewrite")
    assert hits == []


def test_exact_re2_form_is_built_lazily():
    """The Python-exact RE2 form scans every codepoint (~0.2 s): importing
    the package and building a plan's patterns must not build it."""
    import subprocess
    import sys

    code = (
        "from pdf_parser_python_spark.plans import pipeline\n"
        "from pdf_parser_python_spark.functions import anchors\n"
        "assert anchors.re2_exact.cache_info().currsize == 0\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   cwd=PACKAGE.parent)


def _empty_container(node) -> bool:
    """``{}``, ``[]``, ``set()``, ``dict()`` or ``list()``."""
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (isinstance(node, ast.Call) and not node.args
            and not node.keywords and isinstance(node.func, ast.Name)
            and node.func.id in ("set", "dict", "list"))


def test_package_keeps_no_module_state():
    """No module of the package starts a mutable container it could fill
    across calls (a memo, a registry): what a call does follows from its
    arguments and the session, never from what an earlier call saw."""
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        and node.value is not None and _empty_container(node.value)
    ]
    assert hits == []
