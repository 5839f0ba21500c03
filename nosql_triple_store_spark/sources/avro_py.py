"""Pure-Python Avro Object Container File codec with DISTRIBUTED
Spark read/write plumbing — the fallback path for runtimes where the
external spark-avro module jar is not deployed (it is not part of core
Spark; see Spark docs "Apache Avro Data Source Guide").

Format implemented from the public Avro 1.11 specification
(container-file section): magic ``Obj\\x01``, a file-metadata map
(``avro.schema`` JSON + ``avro.codec``), a random 16-byte sync marker,
then blocks of (record-count varint, byte-size varint, serialized
records, sync marker). Values use Avro binary encoding: zigzag varints
for int/long, little-endian IEEE754 for float/double, length-prefixed
UTF-8 for string/bytes, a varint branch index for unions. Logical
types: timestamp-micros (long), date (int).

Distributed plumbing — the part that must be Spark-shaped:
- write: ``df.mapInPandas`` writes ONE container file per input
  partition (Arrow batches stream through the encoder; nothing is
  collected to the driver). On a cluster the per-task path would be an
  object-store staging prefix; locally it is a shared tmp dir.
- read: ``spark.read.format("binaryFile")`` distributes whole files to
  tasks, then ``mapInPandas`` decodes each file's blocks back to Arrow
  batches. File-granular parallelism matches Avro's row-oriented
  layout (no intra-file column pruning exists to exploit — which is
  exactly why the engine's native tables are parquet and Avro is an
  interchange/landing format; see SURVEY §2 sources).

At 100 TB you deploy the spark-avro jar and get the native vectorized
reader (``q_source_avro`` auto-upgrades via the classpath probe in
``operators/relational_ext9.py``); this module keeps the query VERIFIED
rather than skipped on jar-less runtimes.
"""

from __future__ import annotations

import json
import os
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MAGIC = b"Obj\x01"

# ---------------------------------------------------------------- codec


def _enc_long(n: int) -> bytes:
    """Zigzag varint (Avro spec: int/long encoding)."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_bytes(b: bytes) -> bytes:
    return _enc_long(len(b)) + b


def _enc_str(s: str) -> bytes:
    return _enc_bytes(s.encode("utf-8"))


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def raw(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def bytes_(self) -> bytes:
        return self.raw(self.long())

    def str_(self) -> str:
        return self.bytes_().decode("utf-8")

    def double(self) -> float:
        return struct.unpack("<d", self.raw(8))[0]

    def float_(self) -> float:
        return struct.unpack("<f", self.raw(4))[0]


# ------------------------------------------------- schema translation

_PRIMS = {
    T.LongType: "long",
    T.IntegerType: "int",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.StringType: "string",
    T.BinaryType: "bytes",
    T.BooleanType: "boolean",
}


def spark_to_avro_schema(schema: T.StructType, name: str = "row") -> dict:
    """Spark StructType -> Avro record schema (nullable fields become
    ["null", T] unions, Spark's nullability default)."""
    fields = []
    for f in schema.fields:
        dt = type(f.dataType)
        if dt in _PRIMS:
            at: object = _PRIMS[dt]
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            at = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(f.dataType, T.DateType):
            at = {"type": "int", "logicalType": "date"}
        else:
            raise TypeError(
                f"no Avro mapping for {f.dataType} (field {f.name}); "
                "supported: int/long/float/double/string/binary/boolean/"
                "timestamp/date"
            )
        fields.append(
            {"name": f.name, "type": ["null", at] if f.nullable else at}
        )
    return {"type": "record", "name": name, "fields": fields}


def _avro_field_kinds(avro_schema: dict) -> list[tuple[str, str, bool]]:
    """[(name, kind, nullable)] with kind in the primitive/logical set."""
    out = []
    for f in avro_schema["fields"]:
        t = f["type"]
        nullable = isinstance(t, list)
        if nullable:
            t = [x for x in t if x != "null"][0]
        if isinstance(t, dict):
            kind = t.get("logicalType") or t["type"]
        else:
            kind = t
        out.append((f["name"], kind, nullable))
    return out


# ------------------------------------------------------------- writer


def _encode_records(pdf, kinds) -> bytes:
    """One partition batch -> concatenated Avro-binary records."""
    import pandas as pd

    out = bytearray()
    cols = []
    for name, kind, _ in kinds:
        s = pdf[name]
        if kind == "timestamp-micros":
            s = pd.to_datetime(s).astype("datetime64[us]")
        cols.append(s.tolist())
    for row in zip(*cols):
        for (name, kind, nullable), v in zip(kinds, row):
            isnull = v is None or v != v  # NaN/NaT safe
            if nullable:
                out += _enc_long(0 if isnull else 1)
                if isnull:
                    continue
            elif isnull:
                raise ValueError(f"null in non-nullable field {name}")
            if kind in ("long", "int"):
                out += _enc_long(int(v))
            elif kind == "double":
                out += struct.pack("<d", float(v))
            elif kind == "float":
                out += struct.pack("<f", float(v))
            elif kind == "string":
                out += _enc_str(str(v))
            elif kind == "bytes":
                out += _enc_bytes(bytes(v))
            elif kind == "boolean":
                out += b"\x01" if v else b"\x00"
            elif kind == "timestamp-micros":
                out += _enc_long(
                    int(v.value) // 1000
                    if getattr(v, "value", None) is not None
                    else int(v)
                )
            elif kind == "date":
                out += _enc_long(int(v.toordinal() - 719163))
            else:  # pragma: no cover - guarded by spark_to_avro_schema
                raise TypeError(kind)
    return bytes(out)


def write_avro_dir(df: DataFrame, out_dir: str, codec: str = "deflate") -> int:
    """Write ``df`` as one Avro container file per partition under
    ``out_dir`` (distributed: each task encodes its own Arrow batches;
    the driver only creates the directory). Returns file count."""
    avro_schema = spark_to_avro_schema(df.schema)
    kinds = _avro_field_kinds(avro_schema)
    schema_json = json.dumps(avro_schema)
    # Nullable integer columns arrive in the Arrow->pandas writer as
    # float64 (null coercion), losing precision past 2^53 (ADVICE r5).
    # Spark-side fix: fill nulls + carry a boolean mask so the batch
    # stays int64; the writer restores exact ints with None under the
    # mask. Mirrors write_bson_dir.
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    int_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, int_types) and f.nullable
    ]
    for c in int_cols:
        df = df.withColumn(f"__mask_{c}", F.col(c).isNull()).withColumn(
            c, F.coalesce(F.col(c), F.lit(0))
        )
    os.makedirs(out_dir, exist_ok=True)

    def _write(it: Iterator) -> Iterator:
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # sync marker must be file-unique; derived from partition id so
        # the write is deterministic and re-runnable (idempotent paths)
        sync = struct.pack("<4i", pid, ~pid & 0x7FFFFFFF, 0x5EED, 0xA5A5)
        header = (
            _MAGIC
            + _enc_long(2)
            + _enc_str("avro.schema")
            + _enc_bytes(schema_json.encode())
            + _enc_str("avro.codec")
            + _enc_bytes(codec.encode())
            + _enc_long(0)
            + sync
        )
        path = os.path.join(out_dir, f"part-{pid:05d}.avro")
        n = 0
        with open(path + ".tmp", "wb") as fh:
            fh.write(header)
            for pdf in it:
                if not len(pdf):
                    continue
                for c in int_cols:
                    pdf[c] = (
                        pdf[c]
                        .astype(object)
                        .mask(pdf[f"__mask_{c}"], None)
                    )
                body = _encode_records(pdf, kinds)
                if codec == "deflate":
                    body = zlib.compress(body)[2:-4]  # raw DEFLATE
                fh.write(_enc_long(len(pdf)))
                fh.write(_enc_long(len(body)))
                fh.write(body)
                fh.write(sync)
                n += len(pdf)
        os.replace(path + ".tmp", path)  # atomic publish per task
        yield pd.DataFrame({"path": [path], "n": [n]})

    stats = df.mapInPandas(_write, schema="path string, n long").collect()
    return len(stats)


# ------------------------------------------------------------- reader


def _decode_file(content: bytes):
    """One container file -> (avro_schema_dict, list-of-column-lists)."""
    r = _Reader(content)
    assert r.raw(4) == _MAGIC, "not an Avro container file"
    schema = None
    codec = "null"
    nmeta = r.long()
    while nmeta != 0:
        if nmeta < 0:  # spec: negative block count precedes a size
            r.long()
            nmeta = -nmeta
        for _ in range(nmeta):
            k = r.str_()
            v = r.bytes_()
            if k == "avro.schema":
                schema = json.loads(v)
            elif k == "avro.codec":
                codec = v.decode()
        nmeta = r.long()
    sync = r.raw(16)
    kinds = _avro_field_kinds(schema)
    cols: list[list] = [[] for _ in kinds]
    while r.pos < len(r.buf):
        cnt = r.long()
        size = r.long()
        body = r.raw(size)
        if codec == "deflate":
            body = zlib.decompress(body, -15)
        elif codec != "null":
            raise NotImplementedError(f"avro codec {codec!r}")
        assert r.raw(16) == sync, "sync marker mismatch"
        br = _Reader(body)
        for _ in range(cnt):
            for i, (_, kind, nullable) in enumerate(kinds):
                if nullable and br.long() == 0:
                    cols[i].append(None)
                    continue
                if kind in ("long", "int", "timestamp-micros", "date"):
                    cols[i].append(br.long())
                elif kind == "double":
                    cols[i].append(br.double())
                elif kind == "float":
                    cols[i].append(br.float_())
                elif kind == "string":
                    cols[i].append(br.str_())
                elif kind == "bytes":
                    cols[i].append(br.bytes_())
                elif kind == "boolean":
                    cols[i].append(br.raw(1) == b"\x01")
                else:  # pragma: no cover
                    raise TypeError(kind)
    return schema, kinds, cols


def decode_kernel(schema: T.StructType):
    """The mapInPandas decode function for a binaryFile `content`
    column — shared by the batch reader (read_avro_dir) and the
    streaming ingest twin (streaming/queries.q_stream_source_avro):
    the codec composes with Structured Streaming without change."""
    kinds_expected = _avro_field_kinds(spark_to_avro_schema(schema))
    names = [n for n, _, _ in kinds_expected]

    def _read(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            for content in pdf["content"]:
                _, kinds, cols = _decode_file(bytes(content))
                got = [n for n, _, _ in kinds]
                if got != names:
                    raise ValueError(
                        f"avro schema mismatch: file has {got}, "
                        f"expected {names}"
                    )
                data = {}
                for (name, kind, _), col in zip(kinds, cols):
                    if kind == "timestamp-micros":
                        data[name] = pd.to_datetime(
                            pd.Series(col, dtype="float64"), unit="us"
                        )
                    elif kind == "date":
                        data[name] = pd.to_datetime(
                            pd.Series(col, dtype="float64"), unit="D"
                        ).dt.date
                    else:
                        data[name] = pd.Series(col, dtype=object)
                yield pd.DataFrame(data, columns=names)

    return _read


def read_avro_dir(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Distributed Avro read: binaryFile scan fans whole files out to
    tasks; each task decodes its files to Arrow batches. ``schema`` is
    the expected Spark schema (Avro carries its own schema per file —
    it is validated field-by-name during decode)."""
    files = spark.read.format("binaryFile").load(
        os.path.join(path, "*.avro")
    )
    return files.select("content").mapInPandas(
        decode_kernel(schema), schema=schema
    )
