"""Document-IRI → filesystem path mapping (``lib/io/QuadSinkFile.ts:42-78``).

Semantics replicated exactly, all JVM-side Column expressions:

1. strip the hash fragment (:44-47);
2. among the configured ``iriToPath`` regexes, the one whose FIRST match in
   the IRI is LONGEST wins (:50-59) — strictly-greater comparison, so ties
   keep the earliest-configured regex;
3. no match → error (:62-64) — here a null path the plan layer asserts on;
4. regex-substitute with the winning replacement (:67);
5. illegal filename chars ``[*|"<>?:]`` → ``_`` (:70);
6. optionally append ``fileExtension`` (:73-75) — note the reference's
   guard tests the *extension* against ``/\\.[a-z]$/i`` (appends unless the
   extension is exactly dot+one letter), replicated verbatim.

The longest-match arbitration uses ``regexp_extract(iri, pat, 0)`` (the full
first match, same as JS ``exec()[0]``) and an argmax over
``struct(length, -index)`` — pure expressions, whole-stage codegen, no UDF.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ILLEGAL_CHARS = r'[*|"<>?:]'

#: single-file parity outputs (QuadSinkCsv, TransformCallbackMap) are
#: bounded driver-side concatenations; above this they fail fast with the
#: parquet alternative named instead of grinding the driver
SINGLE_FILE_MAX_BYTES = 1 << 30


def strip_hash_col(iri: Column) -> Column:
    return F.when(
        F.instr(iri, "#") > 0, F.substring_index(iri, "#", 1)
    ).otherwise(iri)


def iri_to_path_col(iri: Column, iri_to_path: dict[str, str], file_extension: str | None = None) -> Column:
    """Build the path Column for a document IRI. Null when no regex matches
    (the reference throws ``No IRI mapping found``)."""
    stripped = strip_hash_col(iri)

    entries = list(iri_to_path.items())
    # argmax over (match length, -position) — earliest wins ties because the
    # reference only replaces on strictly-greater match length.
    candidates = [
        F.struct(
            F.length(F.regexp_extract(stripped, pat, 0)).alias("len"),
            F.lit(-i).alias("neg_idx"),
            F.lit(i).alias("idx"),
        )
        for i, (pat, _) in enumerate(entries)
    ]
    best = F.greatest(*candidates) if len(candidates) > 1 else candidates[0]
    best_idx = best["idx"]
    matched = best["len"] > 0

    path = F.lit(None).cast("string")
    expr = None
    for i, (pat, repl) in enumerate(entries):
        branch = F.regexp_replace(stripped, pat, repl)
        expr = F.when(best_idx == i, branch) if expr is None else expr.when(best_idx == i, branch)
    path = F.when(matched, expr)

    path = F.regexp_replace(path, ILLEGAL_CHARS, "_")
    if file_extension and not re.search(r"\.[a-z]$", file_extension, re.IGNORECASE):
        path = F.concat(path, F.lit(file_extension))
    return path


def map_doc_to_path(
    routed: DataFrame,
    iri_to_path: dict[str, str],
    file_extension: str | None = None,
    strict: bool = True,
) -> DataFrame:
    """Append a ``path`` column mapped from ``doc``. With ``strict``, raise at
    action time if any doc has no mapping (reference: hard error,
    ``QuadSinkFile.ts:62-64``) — expressed with ``raise_error`` inside the
    plan so it needs no extra pass over the data."""
    path = iri_to_path_col(F.col("doc"), iri_to_path, file_extension)
    if strict:
        path = F.when(
            path.isNull() & F.col("doc").isNotNull(),
            F.raise_error(F.concat(F.lit("No IRI mapping found for "), F.col("doc"))),
        ).otherwise(path)
    return routed.withColumn("path", path)


def write_fragments(
    routed_with_path: DataFrame,
    output_dir: str,
    partitions: int | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Write per-fragment parquet, partitioned by path hash.

    The reference bounds open file descriptors with a 128-stream LRU
    (``lib/io/ParallelFileWriter.ts:24-32``); Spark's FileFormatWriter sorts
    rows by partition key within each task, so one file is open at a time —
    we only bound the number of output *partitions* via repartition on the
    path, which also co-locates each fragment's quads.
    """
    df = routed_with_path
    if partitions:
        df = df.repartition(partitions, F.col("path"))
    writer = df.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("path").parquet(output_dir)


#: rdf-serialize content types the per-fragment text writer accepts
#: (``ParallelFileWriter.ts:64`` passes ``outputFormat`` straight to
#: rdf-serialize). N-Triples lines ARE valid Turtle, so ``text/turtle``
#: shares the line serializer; TriG and JSON-LD assemble per fragment.
_TEXT_FORMATS = {
    None: "nquads",
    "application/n-quads": "nquads",
    "nquads": "nquads",
    "application/n-triples": "ntriples",
    "ntriples": "ntriples",
    "text/turtle": "ntriples",
    "turtle": "ntriples",
    "application/trig": "trig",
    "trig": "trig",
    "application/ld+json": "jsonld",
    "jsonld": "jsonld",
}

#: shared aliases derived from the one registry above — streaming and the
#: config compiler consume these instead of hand-copied tuples, so adding
#: a format/alias is a single edit
NQUADS_FORMATS = tuple(k for k, v in _TEXT_FORMATS.items() if v == "nquads")
LINE_APPENDABLE_FORMATS = tuple(
    k for k, v in _TEXT_FORMATS.items() if v in ("nquads", "ntriples")
)


def forbid_named_graphs(df: DataFrame) -> DataFrame:
    """Triple-only serializations (Turtle, N-Triples) cannot carry named
    graphs — in-plan fail-fast, like rdf-serialize's graph-less writers."""
    return df.withColumn(
        "g",
        F.when(
            F.col("g").isNotNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        "outputFormat text/turtle|n-triples cannot "
                        "express the named graph "
                    ),
                    F.col("g"),
                )
            ),
        ).otherwise(F.col("g")),
    )


def _check_local_master(df: DataFrame) -> None:
    # Executor tasks write via plain open(): correct only when executors
    # share the driver filesystem (local[k]). On a real cluster the files
    # would scatter across executor-local disks — fail fast there and point
    # at the parquet scale path (write_fragments).
    master = df.sparkSession.conf.get("spark.master", "")
    if master and not master.startswith("local"):
        raise NotImplementedError(
            "per-fragment file sinks write one file per fragment from "
            "executor tasks via the local filesystem; "
            f"master={master!r} is not local, so "
            "outputs would land on executor-local disks. Use "
            "write_fragments (partitioned parquet via the cluster "
            "filesystem) for non-local deployments, or run the text "
            "layout on a shared/NFS filesystem only."
        )


def _write_sorted_groups(
    df: DataFrame,
    output_dir: str,
    render,
    count_col: str = "n_quads",
    append: bool = False,
) -> DataFrame:
    """The one per-document file writer behind every text and HDT sink.

    ``df`` holds ``path`` plus the columns ``render`` reads. One shuffle on
    ``path`` (``spark.sql.shuffle.partitions`` partitions), a sort within
    each partition, then one ``mapInArrow`` pass: each path's consecutive
    rows — across Arrow batches if need be — go to ``render(path, table)``,
    which returns ``(count, [(relative_file, str | bytes), ...])``; those
    files are written (appended with ``append``) one at a time per task,
    the reference's open-file bound (``ParallelFileWriter.ts:24-69``).
    Returns DataFrame[path, <count_col>], lazily: acting on it writes."""
    import itertools
    import os

    import pyarrow as pa

    _check_local_master(df)
    out_schema = pa.schema([("path", pa.string()), (count_col, pa.int64())])
    mode = "a" if append else "w"

    def write_partition(batches):
        held_path, held, written = None, [], {"path": [], count_col: []}

        def flush():
            n, files = render(held_path, pa.Table.from_batches(held))
            for rel, content in files:
                target = os.path.join(output_dir, rel)
                os.makedirs(os.path.dirname(target), exist_ok=True)
                binary = "b" if isinstance(content, bytes) else ""
                with open(target, mode + binary) as f:
                    f.write(content)
            written["path"].append(held_path)
            written[count_col].append(n)

        for batch in batches:
            start = 0
            for path, run in itertools.groupby(batch.column("path").to_pylist()):
                size = sum(1 for _ in run)
                if held and path != held_path:
                    flush()
                    held = []
                held_path = path
                held.append(batch.slice(start, size))
                start += size
        if held:
            flush()
        yield pa.RecordBatch.from_pydict(written, schema=out_schema)

    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        df.repartition(n_parts, "path")
        .sortWithinPartitions("path")
        .mapInArrow(write_partition, f"path string, {count_col} long")
    )


def _render_lines(path: str, t) -> tuple:
    lines = t.column("line").to_pylist()
    return len(lines), [(path, "\n".join(lines) + "\n")]


def _render_trig(path: str, t) -> tuple:
    by_graph: dict = {}
    for g, line in zip(t.column("g").to_pylist(), t.column("line").to_pylist()):
        by_graph.setdefault(g, []).append(line)
    parts = by_graph.pop(None, [])
    for g in sorted(by_graph):
        label = g if g.startswith("_:") else "<" + g + ">"
        parts += ["GRAPH " + label + " {", *by_graph[g], "}"]
    return t.num_rows, [(path, "\n".join(parts) + "\n")]


#: term columns of a quad, in the order ``serialize_jsonld`` takes them
_TERMS = ("s_type", "s", "p", "o_type", "o", "o_datatype", "o_lang", "g")


def _render_jsonld(path: str, t) -> tuple:
    from rdf_dataset_fragmenter_js_spark.sources.jsonld import serialize_jsonld

    rows = zip(*(t.column(c).to_pylist() for c in _TERMS))
    return t.num_rows, [(path, serialize_jsonld(list(rows)))]


def write_fragment_files(
    routed_with_path: DataFrame,
    output_dir: str,
    output_format: str | None = None,
    append: bool = False,
) -> DataFrame:
    """Fixture-exact file layout: ONE serialized RDF file per mapped
    ``path`` — the reference's actual on-disk output (``QuadSinkFile``
    appends serialized quads to the file at each doc's mapped path,
    ``lib/io/QuadSinkFile.ts:67-78`` + ``ParallelFileWriter``, which
    hands ``outputFormat`` to rdf-serialize).

    ``output_format`` accepts the rdf-serialize content types (or short
    names): ``application/n-quads`` (default), ``application/n-triples`` /
    ``text/turtle`` (triple formats — quads in a named graph fail fast,
    like rdf-serialize's graph-less serializers), ``application/trig``
    (``GRAPH <g> { … }`` blocks), ``application/ld+json`` (expanded form
    via :func:`~rdf_dataset_fragmenter_js_spark.sources.jsonld.serialize_jsonld`).

    Spark cannot name output files arbitrarily through the native writer,
    so :func:`_write_sorted_groups` writes them from executor tasks, one
    fragment at a time; file content order is not the arrival order
    (SURVEY.md §4.3: parity is per-file quad multisets). ``append=True``
    (line formats only) appends instead of overwriting — the incremental
    write of the streaming pipeline, at-least-once under micro-batch
    replay like the reference's per-file append streams.

    Returns DataFrame[path, n_quads] (the write happens when it is acted
    on — e.g. ``.collect()`` — keeping this composable as a plan)."""
    from rdf_dataset_fragmenter_js_spark.sources.nquads import serialize_nquads

    if output_format not in _TEXT_FORMATS:
        raise ValueError(
            f"unsupported outputFormat {output_format!r} — supported: "
            f"{sorted(k for k in _TEXT_FORMATS if k)} or 'parquet'"
        )
    fmt = _TEXT_FORMATS[output_format]
    if append and output_format not in LINE_APPENDABLE_FORMATS:
        raise NotImplementedError(
            f"cannot append outputFormat {output_format!r}: TriG graph "
            "blocks and JSON-LD documents are not line-appendable"
        )
    src = routed_with_path
    if fmt == "ntriples":
        src = forbid_named_graphs(src)
    if fmt in ("nquads", "ntriples"):
        lines = serialize_nquads(src).select("path", "line")
        return _write_sorted_groups(lines, output_dir, _render_lines, append=append)
    if fmt == "trig":
        # serialize the TRIPLE part of each quad (graph nulled) and keep
        # the graph for block assembly
        src = src.withColumn("__g", F.col("g")).withColumn("g", F.lit(None).cast("string"))
        lines = serialize_nquads(src).select("path", F.col("__g").alias("g"), "line")
        return _write_sorted_groups(lines, output_dir, _render_trig)
    return _write_sorted_groups(
        src.select("path", *_TERMS), output_dir, _render_jsonld
    )


def write_fragment_nquads(routed_with_path: DataFrame, output_dir: str) -> DataFrame:
    """The default reference layout: one N-Quads file per mapped path
    (see :func:`write_fragment_files`)."""
    return write_fragment_files(routed_with_path, output_dir, "application/n-quads")


def sink_csv(
    routed: DataFrame,
    columns: list[str],
    path: str,
    max_bytes: int = SINGLE_FILE_MAX_BYTES,
) -> None:
    """``QuadSinkCsv`` (``lib/io/QuadSinkCsv.ts:42-60``): write selected quad
    term values as CSV with header; single file for parity with the
    reference's one-file output.

    The write itself is DISTRIBUTED (every executor writes its partition);
    the single-file parity merge happens afterwards on the driver, gated by
    ``max_bytes`` — a misconfigured matcher producing a corpus-sized CSV
    fails fast with the parquet alternative named instead of grinding one
    process. Non-local destinations keep the multi-part layout (still a
    header-carrying CSV dataset for any reader)."""
    import glob as _glob
    import logging
    import os

    from rdf_dataset_fragmenter_js_spark.operators.matchers import TERM_COLUMNS

    cols = [F.col(TERM_COLUMNS[c][0]).alias(c) for c in columns]
    # file: URIs are local — collapse to the plain path so the driver-side
    # merge below globs/opens the real filesystem location, not './file:…'
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import (
        local_path_of_file_uri,
    )

    path = local_path_of_file_uri(path) or path
    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", path) and not path.startswith("file:"):
        # non-local destination: the driver can't merge part files — keep
        # the reference's one-file shape via a single write task (unguarded;
        # prefer parquet for corpus-sized outputs)
        logging.getLogger(__name__).warning(
            "QuadSinkCsv: non-local destination %s writes through ONE task "
            "with no size guard — use outputFormat='parquet' for large outputs",
            path,
        )
        routed.select(*cols).coalesce(1).write.mode("overwrite").option(
            "header", True
        ).csv(path)
        return
    routed.select(*cols).write.mode("overwrite").csv(path)
    parts = sorted(_glob.glob(os.path.join(path, "part-*")))
    total = sum(os.path.getsize(p) for p in parts)
    if total > max_bytes:
        raise ValueError(
            f"QuadSinkCsv: output is {total >> 20} MB, above the "
            f"{max_bytes >> 20} MB single-file guard — use "
            "outputFormat='parquet' (distributed, splittable) or raise "
            "max_bytes if one giant CSV is really wanted"
        )
    merged = os.path.join(path, "part-00000-merged.csv")
    with open(merged, "w") as out:
        out.write(",".join(columns) + "\n")
        import shutil

        for p in parts:
            with open(p) as inp:
                shutil.copyfileobj(inp, out)
    for p in parts:
        os.remove(p)


def sink_filtered(routed: DataFrame, marker) -> DataFrame:
    """``QuadSinkFiltered`` (``lib/io/QuadSinkFiltered.ts:21-25``)."""
    return marker(routed).filter(F.col("__match")).drop("__match")
