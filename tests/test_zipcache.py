"""The worker import-cache helper (``zipcache.drop_zip_finders``) and
the kernels that call it. PySpark's worker runs
``importlib.invalidate_caches()`` before every task, and on this
interpreter each cached ``zipimporter`` then re-reads its whole archive
directory. These tests plant a ``zipimporter`` over a temp zip and
count ``zipimport._read_directory`` calls; no Spark."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest

from pdf_parser_python_spark.operators import dedup, dkernel, vkernel
from pdf_parser_python_spark.zipcache import drop_zip_finders
from tests.test_lineage_failures import _packed_batch as packed_batch


@pytest.fixture()
def planted(tmp_path, monkeypatch):
    """A ``zipimporter`` cached under an absolute temp path, plus a
    counter of archive-directory reads."""
    archive = tmp_path / "planted.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("planted_mod.py", "X = 1\n")
    key = str(archive)
    sys.path_importer_cache[key] = zipimport.zipimporter(key)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield key, reads
    sys.path_importer_cache.pop(key, None)


def _zip_keys():
    return {k for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)}


def test_helper_drops_zip_finders_only(planted):
    key, reads = planted
    # the planted finder really pays the re-read on invalidation
    importlib.invalidate_caches()
    assert key in reads

    others = {k: f for k, f in sys.path_importer_cache.items()
              if not isinstance(f, zipimport.zipimporter)}
    assert any(isinstance(f, importlib.machinery.FileFinder)
               for f in others.values())
    drop_zip_finders()
    assert key not in sys.path_importer_cache and not _zip_keys()
    for k, f in others.items():
        assert sys.path_importer_cache[k] is f

    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_dropped_finder_is_rebuilt_without_a_reread(planted):
    """A cache miss rebuilds the finder from the directory cache, so
    imports from the archive still resolve and read nothing."""
    key, reads = planted
    drop_zip_finders()
    sys.path.insert(0, key)
    try:
        mod = importlib.import_module("planted_mod")
        assert mod.X == 1 and mod.__file__.startswith(key)
    finally:
        sys.path.remove(key)
        sys.modules.pop("planted_mod", None)
    assert reads == []


def _packed_batch():
    exam = ["Question: 1 Which city is on two continents?",
            "(A) Istanbul", "(B) Paris", "Answer: A",
            "Explanation: it spans the Bosphorus.",
            "Question: 2 Pick one", "(A) yes", "(B) no", "Answer: B"]
    # İ makes the kernels run their Python-exact grammar form
    uni = [t.replace("Istanbul", "İstanbul") for t in exam]
    return packed_batch([("ascii", exam), ("uni", uni)])


def _token_hash_batch():
    return pa.RecordBatch.from_pydict(
        {"doc_id": [1, 2, 3],
         "th": [[11, 22, 33, 44, 55], [11, 22], None]},
        schema=pa.schema([("doc_id", pa.int64()),
                          ("th", pa.list_(pa.int64()))]),
    )


def _token_batch():
    return pa.RecordBatch.from_pydict(
        {"doc_id": [1, 2, 3],
         "toks": [["a", "b", "c", "d", "e"], ["a", "b"], None]},
        schema=pa.schema([("doc_id", pa.int64()),
                          ("toks", pa.list_(pa.string()))]),
    )


def _pandas(batch_fn):
    return lambda: batch_fn().to_pandas()


ENTRY_POINTS = {
    "vkernel.parse_docs_flat_arrow":
        (vkernel.parse_docs_flat_arrow, _packed_batch),
    "vkernel.doc_text_arrow": (vkernel.doc_text_arrow, _packed_batch),
    "vkernel.question_scalars_arrow":
        (vkernel.question_scalars_arrow, _packed_batch),
    "vkernel.parse_docs_final_arrow":
        (vkernel.parse_docs_final_arrow, _packed_batch),
    "vkernel.parse_docs_commit_arrow":
        (vkernel.parse_docs_commit_arrow, _packed_batch),
    "vkernel.validate_docs_arrow":
        (vkernel.validate_docs_arrow, _packed_batch),
    "dkernel.parse_docs_final":
        (dkernel.parse_docs_final, _pandas(_packed_batch)),
    "dkernel.parse_docs_flat":
        (dkernel.parse_docs_flat, _pandas(_packed_batch)),
    "dkernel.validate_docs": (dkernel.validate_docs, _pandas(_packed_batch)),
    "dedup._minhash_sig_kernel":
        (dedup._minhash_sig_kernel(16, 3), _token_hash_batch),
    "dedup._simhash_sig_kernel":
        (dedup._simhash_sig_kernel(), _token_batch),
}


def _run(kernel, batch_fn):
    rows = []
    for out in kernel(iter([batch_fn()])):
        if isinstance(out, pd.DataFrame):
            rows.extend(out.to_dict("records"))
        else:
            rows.extend(out.to_pylist())
    return rows


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_entry_point_drops_planted_finder(name, planted):
    kernel, batch_fn = ENTRY_POINTS[name]
    key, _ = planted
    sys.path_importer_cache.pop(key)
    clean = _run(kernel, batch_fn)
    assert clean

    sys.path_importer_cache[key] = zipimport.zipimporter(key)
    assert _run(kernel, batch_fn) == clean
    assert key not in sys.path_importer_cache
