"""extract_text_spark — a PySpark-native multi-format text-extraction engine.

A from-scratch reimplementation of the observable extraction semantics of
the reference service (``GoGoButters/extract-text``) as a distributed Spark
pipeline over tables of interleaved text+media documents:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)
        -> extracted(doc_id, spans<kind in {text,heading,table,code,media}>,
                     status, metrics...)

Design (see SURVEY.md for the full blueprint):

* **DataFrame-first.** Scan, validation, archive fan-out, checkpoint
  anti-joins, salting and manifest writes are all Catalyst-planned
  DataFrame ops (``from_json``/``explode``/``filter``/joins) — JVM-side.
* **Extraction kernels are pure Python string transforms** (the reference
  is a Python string-transform service), executed as Arrow-batched
  ``mapInPandas`` (iterator form) — never per-row Python UDFs.
* **Scale levers**: salted repartition by doc_id (several partitions per
  core, so idle cores take the tasks left while an oversized document
  runs), byte-aware Arrow batching, bucket-level checkpoint manifests with
  left-anti-join resume. Every extraction (batch, streaming,
  checkpointed) is one plan: scan -> fan-out -> salt -> one kernel.
* **Byte ingress** (round 2): ``ingest.extract_from_bytes`` parses REAL
  file bytes — zip/tar/rar/7z containers, DOCX/XLSX/PPTX/ODT/EPUB,
  classic-xref PDFs — into the span model, with filename sanitization and
  fail-closed MIME validation up front; ``streaming.stream_extract_files``
  is the same path as a continuously-ingesting drop-directory job.

Entry points: ``ingest.extract_from_bytes`` (raw files),
``pipeline.extract_spans_df`` (span tables), ``checkpoint.run_extraction``
(resumable batch), ``streaming.stream`` (continuous), ``functions.*``
(dedup / similarity / text_stats / multimodal), ``queries`` (the oracled
query registry backing ``__spark_entry__``).
"""

__version__ = "0.2.0"
