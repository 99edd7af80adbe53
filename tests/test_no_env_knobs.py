"""The package reads no ``PDFP_*`` environment variables: its behaviour
follows from its arguments and the Spark session alone. No Spark."""

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
