"""pdf_parser_python_spark — a PySpark-native exam-document extraction engine.

A from-scratch reimplementation of the *capabilities* of
``edwinjoe07/pdf_parser_python`` (reference at ``/root/reference``),
re-expressed Spark-first:

- input: a table of interleaved text+media documents
  ``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
  (the Iceberg-style layout of BASELINE.json's ``input_hint``);
- a vectorized line tokenizer + anchor classifier (native Column ops and
  Arrow-batched pandas, never per-row Python);
- one state-machine segmenter, run by a vectorized Arrow kernel (the
  default), its row-exact pandas twin, and a fully-native window/array
  implementation;
- native finalization, canonical span flattening, and validation layers;
- checkpoint/resume with per-partition lineage + extraction metrics;
- training-data-pipeline operators: dedup (exact/minhash/simhash),
  similarity search, text statistics, multimodal column plumbing.

Reference semantics are cited per module as ``/root/reference/<file>:<line>``.
No code is copied from the reference; it is a single-machine pydantic/regex
pipeline while this package is Spark DataFrame + Arrow throughout.
"""

__version__ = "0.1.0"
