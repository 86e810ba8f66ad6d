"""Native HDT v1 sink — ``QuadSinkHdt`` (``lib/io/QuadSinkHdt.ts:20-131``).

The reference writes each fragment as an RDF file, then converts every
written file into a ``.hdt`` binary by shelling out to a **dockerized
rdf2hdt** (``convertSingleFile``, ``QuadSinkHdt.ts:61-98``) with a default
``conversionConcurrency`` of **1** (documented "really slow",
``README.md:322-323``). This engine instead builds the HDT binary
**natively and distributed**: the sorted-group writer that backs
:func:`~rdf_dataset_fragmenter_js_spark.sinks.paths.write_fragment_files`
(one shuffle on the mapped path, then one Arrow pass per partition that
hands each fragment's rows to a render callback) serializes each HDT file
directly in the task holding that fragment — every executor slot converts
fragments in parallel, no docker, no intermediate file unless
``removeSourceFiles=False`` asks to keep one (the reference's option,
default ``True``, ``QuadSinkHdt.ts:33-35``).

Binary layout
-------------
Follows the public HDT v1 format — W3C Member Submission 30 March 2011
("Binary RDF Representation for Publication and Exchange (HDT)") with the
rdfhdt implementations' on-disk conventions (control-information ``$HDT``
cookie + CRC framing, four-section plain-front-coded dictionary, SPO
bitmap triples, vbyte/log-array primitives):

* **Control information**: ``$HDT`` cookie, one type byte (1 global /
  2 header / 3 dictionary / 4 triples), NUL-terminated format IRI,
  NUL-terminated ``key=value;`` properties, CRC16-ARC of the preceding
  bytes.
* **Header**: N-Triples dataset metadata (VoID statistics), preceded by a
  control block carrying ``length``.
* **Dictionary** (``<http://purl.org/HDT/hdt#dictionaryFour>``): four
  sorted sections — shared subject-objects, subject-only, predicates,
  object-only — each plain-front-coded in blocks (full string at block
  start, then vbyte(common-prefix-len) + suffix), with a log-array of
  block offsets, CRC8 on the section header and CRC32 on the text.
  IDs: shared ``1..n_sh``; subjects and objects continue from ``n_sh+1``
  in their own spaces; predicates are an independent ``1..n_p``.
* **Triples** (``<http://purl.org/HDT/hdt#triplesBitmap>``, order=SPO):
  adjacency-list encoding — ``seqY`` = predicate IDs with ``bitmapY``
  marking each subject's last predicate, ``seqZ`` = object IDs with
  ``bitmapZ`` marking each (subject, predicate)'s last object. Sequences
  are LSB-first bit-packed log arrays; bitmaps carry vbyte length, CRC8
  header and CRC32 payload. Duplicate (s, p, o) triples collapse — the
  same deduplication ``rdf2hdt`` performs — and the graph component is
  dropped (HDT is a triple format; ``rdf2hdt`` does the same for its
  ``nquad`` input).

Literals are stored in their N-Triples lexical form (``"…"``, ``"…"@lang``,
``"…"^^<dt>``) with ``\\ \" \n \r`` escaped; IRIs are stored bare and blank
nodes as ``_:label``, matching the rdfhdt dictionary conventions.

Verification: the container ships no rdfhdt binary, so conformance is
evidenced by the in-repo spec reader :func:`read_hdt` (every CRC checked,
structure validated) plus hypothesis round-trip fuzzing — cross-validation
against hdt-cpp itself is documented as not run in this environment.

``generateIndexes`` (reference default ``True`` → ``rdf2hdt -i`` emits a
``.hdt.index.v1-1`` sidecar) is accepted but a no-op here: the sidecar is a
query-side cache outside the exchange format, and the rdfhdt libraries
regenerate it on first load when missing — omitting it costs first-query
latency only. ``conversionConcurrency`` is likewise accepted and ignored:
its docker-container bound is superseded by Spark task parallelism.
"""

from __future__ import annotations

import os
import re
import struct
import zlib

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.quads import BLANK_NODE, LITERAL, NAMED_NODE

#: outputFormats the reference accepts for HDT conversion
#: (``HDTCPP_FORMATS``, ``QuadSinkHdt.ts:13-19``).
HDT_SOURCE_FORMATS = {
    "application/n-quads",
    "application/n-triples",
    "text/turtle",
    "application/rdf+xml",
    "text/n3",
}

_GLOBAL_FORMAT = "<http://purl.org/HDT/hdt#HDTv1>"
_DICT_FORMAT = "<http://purl.org/HDT/hdt#dictionaryFour>"
_TRIPLES_FORMAT = "<http://purl.org/HDT/hdt#triplesBitmap>"

_CI_GLOBAL, _CI_HEADER, _CI_DICTIONARY, _CI_TRIPLES = 1, 2, 3, 4

_HDT = "http://purl.org/HDT/hdt#"
_VOID = "http://rdfs.org/ns/void#"

#: default plain-front-coding block size (every ``blocksize``-th string is
#: stored in full; the rest as shared-prefix-length + suffix)
PFC_BLOCKSIZE = 16


# --------------------------------------------------------------------------
# primitives: vbyte, CRCs, bit packing
# --------------------------------------------------------------------------


def _vbyte(n: int) -> bytes:
    """HDT vbyte: little-endian base-128, high bit set on the LAST byte."""
    if n < 0:
        raise ValueError("vbyte encodes unsigned values")
    out = bytearray()
    while n > 127:
        out.append(n & 0x7F)
        n >>= 7
    out.append(n | 0x80)
    return bytes(out)


def _read_vbyte(buf: bytes, pos: int) -> tuple[int, int]:
    n = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if b & 0x80:
            return n, pos
        shift += 7


def _crc8(data: bytes) -> int:
    """CRC-8 poly 0x07, init 0, MSB-first (the rdfhdt section-header CRC)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16/ARC poly 0x8005 reflected, init 0 (control-information CRC)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = (crc >> 1) ^ 0xA001 if crc & 1 else crc >> 1
    return crc


def _pack_bits(values, numbits: int) -> bytes:
    """LSB-first fixed-width packing: entry ``i`` occupies bit range
    ``[i*numbits, (i+1)*numbits)`` of a little-endian bitstream, padded to a
    whole byte — vectorized (no per-value Python loop)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    shifts = np.arange(numbits, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def _unpack_bits(data: bytes, numbits: int, count: int) -> np.ndarray:
    if count == 0:
        return np.zeros(0, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    bits = bits[: count * numbits].reshape(count, numbits).astype(np.uint64)
    shifts = np.arange(numbits, dtype=np.uint64)
    return (bits << shifts).sum(axis=1, dtype=np.uint64)


def _bits_needed(maxval: int) -> int:
    return max(1, int(maxval).bit_length())


# --------------------------------------------------------------------------
# stream components
# --------------------------------------------------------------------------


def _control_info(ci_type: int, fmt: str, props: dict | None = None) -> bytes:
    body = b"$HDT" + bytes([ci_type]) + fmt.encode("utf-8") + b"\0"
    body += "".join(f"{k}={v};" for k, v in (props or {}).items()).encode("utf-8")
    body += b"\0"
    return body + struct.pack("<H", _crc16(body))


def _read_control_info(buf: bytes, pos: int) -> tuple[int, str, dict, int]:
    start = pos
    if buf[pos : pos + 4] != b"$HDT":
        raise ValueError(f"bad control cookie at byte {pos}")
    pos += 4
    ci_type = buf[pos]
    pos += 1
    end = buf.index(b"\0", pos)
    fmt = buf[pos:end].decode("utf-8")
    pos = end + 1
    end = buf.index(b"\0", pos)
    props_raw = buf[pos:end].decode("utf-8")
    pos = end + 1
    (crc,) = struct.unpack_from("<H", buf, pos)
    if crc != _crc16(buf[start:pos]):
        raise ValueError("control-information CRC16 mismatch")
    pos += 2
    props = dict(kv.split("=", 1) for kv in props_raw.split(";") if kv)
    return ci_type, fmt, props, pos


def _log_sequence(values) -> bytes:
    values = list(values)
    numbits = _bits_needed(max(values) if values else 0)
    head = bytes([1, numbits]) + _vbyte(len(values))
    body = _pack_bits(values, numbits)
    return head + bytes([_crc8(head)]) + body + struct.pack("<I", zlib.crc32(body))


def _read_log_sequence(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    start = pos
    if buf[pos] != 1:
        raise ValueError(f"unsupported sequence type {buf[pos]}")
    numbits = buf[pos + 1]
    count, pos = _read_vbyte(buf, pos + 2)
    if buf[pos] != _crc8(buf[start:pos]):
        raise ValueError("log-sequence header CRC8 mismatch")
    pos += 1
    nbytes = (count * numbits + 7) // 8
    body = buf[pos : pos + nbytes]
    pos += nbytes
    (crc,) = struct.unpack_from("<I", buf, pos)
    if crc != zlib.crc32(body):
        raise ValueError("log-sequence data CRC32 mismatch")
    return _unpack_bits(body, numbits, count), pos + 4


def _bitmap(bits) -> bytes:
    bits = list(bits)
    head = bytes([1]) + _vbyte(len(bits))
    body = _pack_bits(bits, 1)
    return head + bytes([_crc8(head)]) + body + struct.pack("<I", zlib.crc32(body))


def _read_bitmap(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    start = pos
    if buf[pos] != 1:
        raise ValueError(f"unsupported bitmap type {buf[pos]}")
    count, pos = _read_vbyte(buf, pos + 1)
    if buf[pos] != _crc8(buf[start:pos]):
        raise ValueError("bitmap header CRC8 mismatch")
    pos += 1
    nbytes = (count + 7) // 8
    body = buf[pos : pos + nbytes]
    pos += nbytes
    (crc,) = struct.unpack_from("<I", buf, pos)
    if crc != zlib.crc32(body):
        raise ValueError("bitmap data CRC32 mismatch")
    return _unpack_bits(body, 1, count), pos + 4


def _pfc_section(strings: list[bytes], blocksize: int = PFC_BLOCKSIZE) -> bytes:
    """Plain-front-coded dictionary section over SORTED unique strings."""
    data = bytearray()
    offsets: list[int] = []
    prev = b""
    for i, s in enumerate(strings):
        if i % blocksize == 0:
            offsets.append(len(data))
            data += s + b"\0"
        else:
            cp = 0
            m = min(len(prev), len(s))
            while cp < m and prev[cp] == s[cp]:
                cp += 1
            data += _vbyte(cp) + s[cp:] + b"\0"
        prev = s
    offsets.append(len(data))  # sentinel: total text bytes
    head = bytes([2]) + _vbyte(len(strings)) + _vbyte(len(data)) + _vbyte(blocksize)
    return (
        head
        + bytes([_crc8(head)])
        + _log_sequence(offsets)
        + bytes(data)
        + struct.pack("<I", zlib.crc32(bytes(data)))
    )


def _read_pfc_section(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    start = pos
    if buf[pos] != 2:
        raise ValueError(f"unsupported dictionary-section type {buf[pos]}")
    numstrings, pos = _read_vbyte(buf, pos + 1)
    datasize, pos = _read_vbyte(buf, pos)
    blocksize, pos = _read_vbyte(buf, pos)
    if buf[pos] != _crc8(buf[start:pos]):
        raise ValueError("PFC header CRC8 mismatch")
    pos += 1
    offsets, pos = _read_log_sequence(buf, pos)
    data = buf[pos : pos + datasize]
    pos += datasize
    (crc,) = struct.unpack_from("<I", buf, pos)
    if crc != zlib.crc32(data):
        raise ValueError("PFC text CRC32 mismatch")
    pos += 4

    strings: list[bytes] = []
    dp = 0
    prev = b""
    for i in range(numstrings):
        if i % blocksize == 0:
            end = data.index(b"\0", dp)
            prev = data[dp:end]
            dp = end + 1
        else:
            cp, dp = _read_vbyte(data, dp)
            end = data.index(b"\0", dp)
            prev = prev[:cp] + data[dp:end]
            dp = end + 1
        strings.append(prev)
    return strings, pos


# --------------------------------------------------------------------------
# term <-> dictionary-string mapping
# --------------------------------------------------------------------------

_LIT_RE = re.compile(
    rb'^"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]*)>|@([A-Za-z0-9\-]+))?$', re.DOTALL
)


def _escape_lit(value: str) -> str:
    return (
        value.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def _unescape_lit(value: str) -> str:
    sentinel = "\x00"
    v = value.replace("\\\\", sentinel)
    v = v.replace('\\"', '"').replace("\\n", "\n").replace("\\r", "\r")
    v = v.replace("\\t", "\t")
    return v.replace(sentinel, "\\")


def _term_bytes(value: str, ttype: str, dt: str | None, lang: str | None) -> bytes:
    if ttype == NAMED_NODE:
        return value.encode("utf-8")
    if ttype == BLANK_NODE:
        return ("_:" + value).encode("utf-8")
    s = '"' + _escape_lit(value) + '"'
    if lang:
        s += "@" + lang
    elif dt:
        s += "^^<" + dt + ">"
    return s.encode("utf-8")


def _parse_term(b: bytes) -> tuple[str, str, str | None, str | None]:
    """dictionary string → (type, value, datatype, lang)."""
    if b.startswith(b"_:"):
        return BLANK_NODE, b[2:].decode("utf-8"), None, None
    if b.startswith(b'"'):
        m = _LIT_RE.match(b)
        if not m:
            raise ValueError(f"malformed literal in dictionary: {b!r}")
        value = _unescape_lit(m.group(1).decode("utf-8"))
        dt = m.group(2).decode("utf-8") if m.group(2) else None
        lang = m.group(3).decode("utf-8") if m.group(3) else None
        return LITERAL, value, dt, lang
    return NAMED_NODE, b.decode("utf-8"), None, None


# --------------------------------------------------------------------------
# whole-file build / read
# --------------------------------------------------------------------------


def build_hdt(rows, base_uri: str = "http://example.org/dataset") -> bytes:
    """Serialize an iterable of quad-model rows
    ``(s_type, s, p, o_type, o, o_datatype, o_lang)`` into one HDT v1 byte
    string. Duplicate (s, p, o) triples collapse; any graph component must
    already be dropped by the caller (HDT is a triple format)."""
    return _build_hdt_counted(rows, base_uri)[0]


def _build_hdt_counted(rows, base_uri: str) -> tuple[bytes, int]:
    triples = set()
    for s_type, s, p, o_type, o, o_dt, o_lang in rows:
        triples.add(
            (
                _term_bytes(s, s_type, None, None),
                p.encode("utf-8"),
                _term_bytes(o, o_type, o_dt, o_lang),
            )
        )

    subjects = {t[0] for t in triples}
    objects = {t[2] for t in triples}
    shared = sorted(subjects & objects)
    subj_only = sorted(subjects - objects)
    obj_only = sorted(objects - subjects)
    preds = sorted({t[1] for t in triples})

    n_sh = len(shared)
    sid = {t: i + 1 for i, t in enumerate(shared)}
    sid.update({t: n_sh + i + 1 for i, t in enumerate(subj_only)})
    oid = {t: i + 1 for i, t in enumerate(shared)}
    oid.update({t: n_sh + i + 1 for i, t in enumerate(obj_only)})
    pid = {t: i + 1 for i, t in enumerate(preds)}

    ids = sorted((sid[s], pid[p], oid[o]) for s, p, o in triples)

    seq_y: list[int] = []
    bit_y: list[int] = []
    seq_z: list[int] = []
    bit_z: list[int] = []
    for i, (s, p, o) in enumerate(ids):
        nxt = ids[i + 1] if i + 1 < len(ids) else None
        if i == 0 or ids[i - 1][0] != s or ids[i - 1][1] != p:
            # new (s, p) pair: when the subject repeats, the previous pair
            # was not the subject's last predicate — clear its marker
            seq_y.append(p)
            if i > 0 and ids[i - 1][0] == s:
                bit_y[-1] = 0
            bit_y.append(1)
        seq_z.append(o)
        bit_z.append(1 if nxt is None or (nxt[0], nxt[1]) != (s, p) else 0)

    header_lines = [
        f"<{base_uri}> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{_HDT}Dataset> .",
        f'<{base_uri}> <{_VOID}triples> "{len(ids)}" .',
        f'<{base_uri}> <{_VOID}properties> "{len(preds)}" .',
        f'<{base_uri}> <{_VOID}distinctSubjects> "{len(subjects)}" .',
        f'<{base_uri}> <{_VOID}distinctObjects> "{len(objects)}" .',
        f'<{base_uri}> <{_HDT}dictionarynumSharedSubjectObject> "{n_sh}" .',
    ]
    header_body = ("\n".join(header_lines) + "\n").encode("utf-8")

    out = bytearray()
    out += _control_info(_CI_GLOBAL, _GLOBAL_FORMAT)
    out += _control_info(_CI_HEADER, "ntriples", {"length": len(header_body)})
    out += header_body
    total_entries = n_sh + len(subj_only) + len(obj_only) + len(preds)
    out += _control_info(
        _CI_DICTIONARY, _DICT_FORMAT, {"mapping": 1, "elements": total_entries}
    )
    out += _pfc_section(shared)
    out += _pfc_section(subj_only)
    out += _pfc_section(preds)
    out += _pfc_section(obj_only)
    out += _control_info(
        _CI_TRIPLES, _TRIPLES_FORMAT, {"order": 1, "numTriples": len(ids)}
    )
    out += _bitmap(bit_y)
    out += _bitmap(bit_z)
    out += _log_sequence(seq_y)
    out += _log_sequence(seq_z)
    return bytes(out), len(ids)


def read_hdt(data: bytes) -> list[tuple]:
    """Spec reader: parse + CRC-validate an HDT v1 byte string back into
    quad-model rows ``(s_type, s, p, o_type, o, o_datatype, o_lang)``."""
    ci_type, fmt, _props, pos = _read_control_info(data, 0)
    if ci_type != _CI_GLOBAL or fmt != _GLOBAL_FORMAT:
        raise ValueError(f"not an HDT v1 global block: type={ci_type} fmt={fmt}")
    ci_type, fmt, props, pos = _read_control_info(data, pos)
    if ci_type != _CI_HEADER:
        raise ValueError("missing HDT header block")
    pos += int(props.get("length", 0))
    ci_type, fmt, props, pos = _read_control_info(data, pos)
    if ci_type != _CI_DICTIONARY or fmt != _DICT_FORMAT:
        raise ValueError(f"unsupported dictionary: type={ci_type} fmt={fmt}")
    shared, pos = _read_pfc_section(data, pos)
    subj_only, pos = _read_pfc_section(data, pos)
    preds, pos = _read_pfc_section(data, pos)
    obj_only, pos = _read_pfc_section(data, pos)
    ci_type, fmt, props, pos = _read_control_info(data, pos)
    if ci_type != _CI_TRIPLES or fmt != _TRIPLES_FORMAT:
        raise ValueError(f"unsupported triples encoding: type={ci_type} fmt={fmt}")
    if props.get("order", "1") != "1":
        raise ValueError(f"unsupported triple order {props['order']} (SPO only)")
    bit_y, pos = _read_bitmap(data, pos)
    bit_z, pos = _read_bitmap(data, pos)
    seq_y, pos = _read_log_sequence(data, pos)
    seq_z, pos = _read_log_sequence(data, pos)

    n_sh = len(shared)

    def subj(i: int) -> bytes:
        return shared[i - 1] if i <= n_sh else subj_only[i - 1 - n_sh]

    def obj(i: int) -> bytes:
        return shared[i - 1] if i <= n_sh else obj_only[i - 1 - n_sh]

    rows: list[tuple] = []
    s_idx = 1
    z_pos = 0
    for y_pos in range(len(seq_y)):
        p_term = preds[int(seq_y[y_pos]) - 1]
        s_term = subj(s_idx)
        while True:
            o_term = obj(int(seq_z[z_pos]))
            s_type, s_val, _, _ = _parse_term(s_term)
            o_type, o_val, o_dt, o_lang = _parse_term(o_term)
            rows.append(
                (s_type, s_val, p_term.decode("utf-8"), o_type, o_val, o_dt, o_lang)
            )
            stop = bit_z[z_pos]
            z_pos += 1
            if stop:
                break
        if bit_y[y_pos]:
            s_idx += 1
    if z_pos != len(seq_z) or s_idx != n_sh + len(subj_only) + 1:
        raise ValueError("triples stream does not cover the dictionary")
    return rows


# --------------------------------------------------------------------------
# Spark integration
# --------------------------------------------------------------------------


def hdt_path_for(path: str, file_extension: str | None) -> str:
    """The reference derives the ``.hdt`` name by removing the sink's
    ``fileExtension`` from the basename via JS ``String.replace`` — i.e.
    FIRST occurrence, not suffix — then appending ``.hdt``
    (``QuadSinkHdt.ts:66-70``); quirk replicated verbatim."""
    d, base = os.path.split(path)
    if file_extension:
        base = base.replace(file_extension, "", 1)
    return os.path.join(d, base + ".hdt") if d else base + ".hdt"


def write_fragment_hdt(
    routed_with_path: DataFrame,
    output_dir: str,
    output_format: str | None = "application/n-quads",
    generate_indexes: bool = True,
    remove_source_files: bool = True,
    file_extension: str | None = None,
    base_uri: str | None = None,
) -> DataFrame:
    """Distributed HDT conversion: each mapped ``path``'s ``.hdt`` is built
    directly in the task that holds that fragment (vs the reference's
    write-file + sequential docker ``rdf2hdt`` loop,
    ``QuadSinkHdt.ts:100-115``), through the same sorted-group writer as
    :func:`~rdf_dataset_fragmenter_js_spark.sinks.paths.write_fragment_files`.

    ``remove_source_files=False`` additionally writes the source RDF file
    the reference would have kept — supported for the line formats
    (``application/n-quads`` / ``application/n-triples``), serialized in
    the same task from the pre-computed JVM-side ``line`` column so the
    whole sink stays one shuffle. Returns DataFrame[path, n_triples]
    (the writes run when it is acted on, e.g. ``.collect()``)."""
    from rdf_dataset_fragmenter_js_spark.sinks.paths import (
        _render_lines,
        _write_sorted_groups,
        forbid_named_graphs,
    )
    from rdf_dataset_fragmenter_js_spark.sources.nquads import serialize_nquads

    if output_format is None:
        output_format = "application/n-quads"
    if output_format not in HDT_SOURCE_FORMATS:
        # reference: `Unsupported HDT output format`, QuadSinkHdt.ts:29-31
        raise ValueError(f"Unsupported HDT output format {output_format}")
    if not remove_source_files and output_format not in (
        "application/n-quads",
        "application/n-triples",
    ):
        raise NotImplementedError(
            f"removeSourceFiles=False with outputFormat {output_format!r} is "
            "not supported by the one-shuffle HDT sink — keep sources via a "
            "QuadSinkFile pass with that outputFormat, then a QuadSinkHdt "
            "pass with removeSourceFiles=True (n-quads/n-triples keep "
            "sources natively)"
        )

    src = routed_with_path
    if output_format == "application/n-triples":
        src = forbid_named_graphs(src)
    keep_sources = not remove_source_files
    cols = ["path", "s_type", "s", "p", "o_type", "o", "o_datatype", "o_lang"]
    if keep_sources:
        src = serialize_nquads(src).select(*cols, "line")
    else:
        src = src.select(*cols)

    def render(rel, t):
        rows = zip(*(t.column(c).to_pylist() for c in cols[1:]))
        blob, n_triples = _build_hdt_counted(rows, base_uri or "file://" + rel)
        files = [(hdt_path_for(rel, file_extension), blob)]
        if keep_sources:
            files += _render_lines(rel, t)[1]
        return n_triples, files

    return _write_sorted_groups(src, output_dir, render, count_col="n_triples")


def read_hdt_files(spark, path, base_iri: str | None = None) -> DataFrame:
    """``.hdt`` files → quad DataFrame (``QuadSourceFile`` dispatch target
    for the ``.hdt`` extension). Beyond-reference capability: the
    reference's rdf-parse has no HDT reader, so it can WRITE HDT (via
    docker) but never read it back — this engine round-trips its own sink
    output.

    Distribution mirrors ``sources/driverfile.py::_read_distributed`` with
    ``sc.binaryFiles`` instead of ``wholeTextFiles`` (HDT is binary): one
    record per file, parsed on executors, dense file-major ``seq`` (HDT
    triple order is the sorted SPO order, so seq is deterministic). The
    graph column is null — HDT is a triple format. ``base_iri`` is accepted
    for signature parity and unused (HDT dictionaries hold absolute terms).
    """
    from rdf_dataset_fragmenter_js_spark.quads import QUAD_SCHEMA
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import (
        _path_key,
        _strip_file_scheme,
        expand_paths,
    )

    files = expand_paths(path, (".hdt",), spark)
    bad = [f for f in files if "," in f]
    if bad:
        raise ValueError(
            f"hdt: file paths containing ',' are not readable via "
            f"binaryFiles (Spark splits its path argument on commas): {bad!r}"
        )
    sc = spark.sparkContext
    index_of = {_path_key(f): i for i, f in enumerate(files)}
    n_files = len(files)
    bc = sc.broadcast(index_of)

    def parse_record(rec):
        uri, blob = rec
        idx = bc.value.get(_path_key(_strip_file_scheme(uri)))
        if idx is None:
            raise ValueError(f"hdt: binaryFiles returned unexpected path {uri!r}")
        rows = read_hdt(bytes(blob))
        return [
            (idx, s_type, s, p, o_type, o, dt, lang, None, seq)
            for seq, (s_type, s, p, o_type, o, dt, lang) in enumerate(rows)
        ]

    rdd = sc.binaryFiles(
        ",".join(files), minPartitions=min(n_files, sc.defaultParallelism)
    ).flatMap(parse_record)
    parsed = spark.createDataFrame(
        rdd,
        "file_idx int, "
        + ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in QUAD_SCHEMA),
    ).localCheckpoint(eager=True)  # parse exactly once (offsets pass + projection)
    counts = {
        r["file_idx"]: r["cnt"]
        for r in parsed.groupBy("file_idx").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, running = {}, 0
    for i in range(n_files):
        offsets[i] = running
        running += counts.get(i, 0)
    offset_map = F.create_map(
        *[F.lit(x) for i in range(n_files) for x in (i, offsets[i])]
    )
    return parsed.select(
        "s_type",
        "s",
        "p",
        "o_type",
        "o",
        "o_datatype",
        "o_lang",
        "g",
        (F.col("seq") + offset_map[F.col("file_idx")]).cast("long").alias("seq"),
    )


def read_hdt_fragments(spark, output_dir: str) -> DataFrame:
    """Distributed read-back of every ``.hdt`` under ``output_dir`` →
    quad-model rows + the fragment's relative ``path`` (spec-reader twin of
    :func:`write_fragment_hdt`, used by tests and the oracle gate)."""
    import pandas as pd

    paths = [
        os.path.relpath(os.path.join(root, name), output_dir)
        for root, _dirs, names in os.walk(output_dir)
        for name in names
        if name.endswith(".hdt")
    ]
    schema = (
        "path string, s_type string, s string, p string, "
        "o_type string, o string, o_datatype string, o_lang string"
    )
    pdf = spark.createDataFrame([(p,) for p in sorted(paths)], "path string")

    def parse(iterator):
        for batch in iterator:
            for rel in batch["path"]:
                with open(os.path.join(output_dir, rel), "rb") as f:
                    rows = read_hdt(f.read())
                yield pd.DataFrame(
                    [(rel, *r) for r in rows],
                    columns=[
                        "path",
                        "s_type",
                        "s",
                        "p",
                        "o_type",
                        "o",
                        "o_datatype",
                        "o_lang",
                    ],
                )

    n = max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    return pdf.repartition(n).mapInPandas(parse, schema=schema)
