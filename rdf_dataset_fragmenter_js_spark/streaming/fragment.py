"""Incremental (Structured Streaming) execution of a pipeline spec.

The reference is a one-pass stream processor; its ``eagerFlushing`` mode
(``lib/strategy/FragmentationBlankNodeBuffer.ts``) flushes buffered state
as data arrives instead of holding the full dataset. The batch engine's
streaming analog: an append-only directory of N-Quads files is consumed by
``readStream`` and every micro-batch runs the FULL compiled pipeline
(transformers → strategy → path mapping) with an append write — per-batch
state scope, exactly eagerFlushing's windowed semantics (bnode ownership
and resource remapping resolve within each batch).

Checkpointing makes the job resumable: re-running with the same
``checkpoint_dir`` skips already-processed files (the north rule's
"resumable from per-partition checkpoints" in streaming form — the batch
path has its own manifest-based resume, ``kg/pipeline.py``).

``trigger=availableNow`` drains everything present and stops — the
batch-of-streams deployment shape (cron-style incremental runs); omit it
for a long-running continuous job.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

_NQ_EXTENSIONS = (".nt", ".nq")

#: binaryFile's fixed schema (file streams require it to be explicit)
_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def _classify_child(path: str, spark: SparkSession) -> str:
    """Map a child source path to its streaming ingestion format:
    'nquads' (vectorized line stream) or 'turtle'/'n3'/'rdfxml'/'jsonld'/
    'rdfa' (per-file parse over a binaryFile stream). Delegates to the
    batch sniffer — which lists remote (hdfs://, s3a://) paths through
    Hadoop's FileSystem — so a remote directory of ``.ttl`` files can
    never silently fall through to the line reader and drop every quad.

    A target with NO files yet (missing path, empty or pre-created append
    directory, zero-match glob) is a hard error, NOT an N-Quads default: a
    stream fixes its reader at start, so guessing wrong here would silently
    drop every parsed-format file the producer writes later. Two explicit
    escapes need no files to exist: an extension-qualified glob
    (``dir/*.nq``, ``dir/*.ttl``) classifies directly from the pattern,
    and a child-spec ``format`` key (``{"filePath": dir, "format":
    "nquads"}``) pins the reader outright."""
    from rdf_dataset_fragmenter_js_spark.sources.nquads import _sniff_format

    base = path.rstrip("/")
    try:
        return _sniff_format(base, spark, on_empty="raise")
    except FileNotFoundError as e:
        raise ValueError(
            f"stream source {path!r} has no files yet to classify, and a "
            "stream cannot change its reader after start — use an "
            "extension-qualified path or glob (e.g. dir/*.nq or dir/*.ttl), "
            'or pin the reader with a child-spec format key ({"filePath": '
            f'{path!r}, "format": "nquads"}}), so the serialization is '
            "explicit before files arrive"
        ) from e


#: child-spec ``format`` values (streaming ingestion readers)
_STREAM_FORMATS = ("nquads", "turtle", "n3", "rdfxml", "jsonld", "rdfa")


def _child_kind(child: dict, spark: SparkSession) -> str:
    """Streaming reader for one composite child: the explicit ``format``
    key when given (lets a pre-created EMPTY landing directory stream
    without extension-qualified globs), else sniffed from the path."""
    fmt = child.get("format")
    if fmt is None:
        return _classify_child(child["filePath"], spark)
    if fmt not in _STREAM_FORMATS:
        raise ValueError(
            f"stream source format {fmt!r} not recognized — expected one "
            f"of {_STREAM_FORMATS}"
        )
    return fmt

from rdf_dataset_fragmenter_js_spark.plans.pipeline import (
    build_strategy,
    build_transformer,
)
from rdf_dataset_fragmenter_js_spark.sinks.paths import map_doc_to_path
from rdf_dataset_fragmenter_js_spark.sources.nquads import (
    parse_nquads_lines,
    resolve_terms_against_base,
)


def stream_pipeline_spec(
    spark: SparkSession,
    spec: dict[str, Any],
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Run a pipeline spec incrementally over an append-only N-Quads
    directory. Returns the started StreamingQuery (caller awaits/stops).

    ``spec`` is the same componentsjs-shaped spec as ``run_pipeline_spec``;
    the source is a ``QuadSourceFile`` (directory/glob of ``.nq``/``.nt``
    files — streamed as vectorized lines — or of ``.ttl``/``.trig``/
    ``.rdf``/``.jsonld`` files, streamed as file arrivals via binaryFile
    and parsed per-file on executors like the batch read) or a
    ``QuadSourceComposite`` of them (per-child ``baseIRI`` honored), and
    the sink a ``QuadSinkFile`` — ``outputFormat='parquet'`` appends
    exactly-once partitioned parquet; the default N-Quads layout appends
    per-fragment ``.nq`` files (at-least-once under batch replay, like the
    reference's append streams)."""
    from pyspark.sql import functions as F

    src = spec["quadSource"]
    if src["@type"] == "QuadSourceFile":
        children = [src]
    elif src["@type"] == "QuadSourceComposite":
        children = list(src["sources"])
        for c in children:
            if c["@type"] != "QuadSourceFile":
                raise NotImplementedError(
                    "stream_pipeline_spec composite sources must be "
                    "QuadSourceFile children (nested composites: flatten)"
                )
    else:
        raise NotImplementedError(
            f"stream_pipeline_spec cannot consume source @type {src['@type']!r}"
        )
    kinds = [_child_kind(c, spark) for c in children]
    sink = spec["quadSink"]
    if sink["@type"] != "QuadSinkFile":
        raise NotImplementedError(
            "stream_pipeline_spec writes QuadSinkFile layouts only "
            "(parquet or per-fragment N-Quads); compose other sinks over "
            "the written table"
        )
    from rdf_dataset_fragmenter_js_spark.sinks.paths import (
        LINE_APPENDABLE_FORMATS,
        write_fragment_files,
    )

    out_fmt = sink.get("outputFormat")
    parquet_sink = out_fmt == "parquet"
    # TriG blocks / JSON-LD documents are whole-file structures that
    # cannot grow by appending lines; reject them before the stream starts
    if not parquet_sink and out_fmt not in LINE_APPENDABLE_FORMATS:
        raise NotImplementedError(
            f"stream_pipeline_spec cannot APPEND outputFormat {out_fmt!r}: "
            "TriG graph blocks and JSON-LD documents are not "
            "line-appendable — use the N-Quads layout, a line format "
            "(text/turtle, application/n-triples), or parquet"
        )
    # Build once; the per-batch closure re-applies the same lazy combinators
    # to each micro-batch frame (they are pure DataFrame -> DataFrame).
    transformer_specs = spec.get("transformers", [])
    strategy_spec = spec["fragmentationStrategy"]
    base_iris = [c.get("baseIRI") for c in children]

    def _route_and_write(df: DataFrame) -> None:
        for tr in transformer_specs:
            df = build_transformer(tr)(df)
        routed = build_strategy(strategy_spec)(df)
        with_path = map_doc_to_path(
            routed, sink["iriToPath"], file_extension=sink.get("fileExtension")
        )
        if parquet_sink:
            with_path.write.mode("append").partitionBy("path").parquet(output_dir)
        else:
            write_fragment_files(with_path, output_dir, out_fmt, append=True).collect()

    all_nquads = all(k == "nquads" for k in kinds)

    if all_nquads:
        # vectorized line stream (splittable; the original round-3 path)
        def process(batch_lines: DataFrame, batch_id: int) -> None:
            parts = []
            for i, base_iri in enumerate(base_iris):
                part = parse_nquads_lines(
                    batch_lines.filter(F.col("__src") == i).select("value")
                )
                if base_iri:
                    # same relative-IRI semantics as the batch read_rdf path
                    part = resolve_terms_against_base(part, base_iri)
                parts.append(part)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            _route_and_write(df)

        lines = None
        for i, c in enumerate(children):
            part = spark.readStream.text(c["filePath"]).withColumn("__src", F.lit(i))
            lines = part if lines is None else lines.unionByName(part)
        stream = lines
    else:
        # mixed / parsed formats (Turtle, TriG, RDF/XML, JSON-LD): stream
        # file ARRIVALS via binaryFile (content column pruned — only paths
        # reach the driver), then parse each batch's files on executors
        # through the same distributed per-file machinery as the batch path
        # (sources/driverfile.py), bnode-namespaced per (batch, file) so
        # labels never collide across appends into one fragment.
        from rdf_dataset_fragmenter_js_spark.sources.driverfile import (
            _read_distributed,
        )
        from rdf_dataset_fragmenter_js_spark.sources.jsonld import parse_jsonld
        from rdf_dataset_fragmenter_js_spark.sources.rdfxml import parse_rdfxml
        from rdf_dataset_fragmenter_js_spark.sources.turtle import (
            parse_n3,
            parse_turtle,
        )

        from rdf_dataset_fragmenter_js_spark.sources.rdfa import parse_rdfa

        parse_fns = {
            "turtle": lambda text, base: parse_turtle(text, base_iri=base),
            "rdfxml": lambda text, base: parse_rdfxml(text, base_iri=base),
            "jsonld": lambda text, base: parse_jsonld(text, base_iri=base),
            "n3": lambda text, base: parse_n3(text, base_iri=base),
            "rdfa": lambda text, base: parse_rdfa(text, base_iri=base),
        }

        def process(batch_files: DataFrame, batch_id: int) -> None:
            parts = []
            for i, (base_iri, kind) in enumerate(zip(base_iris, kinds)):
                files = sorted(
                    r.path
                    for r in batch_files.filter(F.col("__src") == i)
                    .select("path")
                    .collect()
                )
                if not files:
                    continue
                if kind == "nquads":
                    part = parse_nquads_lines(spark.read.text(files))
                    if base_iri:
                        part = resolve_terms_against_base(part, base_iri)
                else:
                    part = _read_distributed(
                        spark,
                        files,
                        base_iri,
                        parse_fns[kind],
                        f"stream_{kind}",
                        bnode_salt=f"b{batch_id}_",
                    )
                parts.append(part)
            if not parts:
                return
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            _route_and_write(df)

        stream = None
        for i, c in enumerate(children):
            part = (
                spark.readStream.format("binaryFile")
                .schema(_BINARY_FILE_SCHEMA)
                .load(c["filePath"])
                .select("path")
                .withColumn("__src", F.lit(i))
            )
            stream = part if stream is None else stream.unionByName(part)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
