"""The package reads no ``PDFP_*`` environment variables: its behaviour
follows from its arguments and the Spark session alone, the extraction
entry points name every option they take, and the kernels declare no
output format of their own. No Spark."""

import ast
import pathlib

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
