"""Sources / sinks S1-S3 (SURVEY.md §2.1).

The reference reads CSV with pandas, all columns as ``str`` and
NA-filtering disabled, so the lexical form survives for parsing
([R validate.py::validate] — the core design, SURVEY.md §1.1 D5). Our
equivalent: ``spark.read.csv`` with an explicit all-StringType schema
(never ``inferSchema``) and nulls disabled.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import Dialect, Resource
from .storage import _jvm_fs, _local_fs_path, read_head, size


def _java_charset(encoding: str) -> str:
    """Normalize a Python-style encoding name (``latin-1``, ``ascii``)
    to the canonical Java charset name Spark's CSV reader demands."""
    import codecs

    try:
        name = codecs.lookup(encoding).name
    except LookupError:
        return encoding
    return {
        "iso8859-1": "iso-8859-1",
        "ascii": "us-ascii",
        "utf-16-be": "utf-16be",
        "utf-16-le": "utf-16le",
    }.get(name, name)


def read_csv_stringly(
    spark: SparkSession,
    path: str,
    dialect: Dialect | None = None,
    encoding: str = "utf-8",
    column_names: list[str] | None = None,
) -> DataFrame:
    """S2: read a CSV with every column as a string and no NA
    interpretation (missing-values mapping happens later, per schema).

    When ``column_names`` is given the file schema is pinned (scan
    stays schema-checked and codegen-friendly); otherwise one header
    sniff drives the column list.
    """
    d = dialect or Dialect()
    reader = (
        spark.read.option("header", d.header)
        .option("sep", d.delimiter)
        .option("quote", d.quote_char)
        # multiLine makes CSV non-splittable (one task per file) —
        # only when the dialect declares embedded newlines
        .option("multiLine", d.multiline)
        .option("encoding", _java_charset(encoding))
        .option("mode", "PERMISSIVE")
        # keep lexical forms: no implicit nulls or type coercion
        .option("nullValue", "\u0001NEVER_A_NULL\u0001")
        .option("emptyValue", "")
        .option("inferSchema", False)
    )
    if d.escape_char:
        reader = reader.option("escape", d.escape_char)
    elif d.double_quote:
        # RFC quote-doubling = escape char == the QUOTE char, whatever
        # it is. The previous literal '"' broke non-default quote
        # chars: a single `'` cell in a `'`-quoted file came back as
        # `''` (found by the dialect round-trip fuzz in
        # test_properties).
        reader = reader.option("escape", d.quote_char)
    if d.skip_initial_space:
        reader = reader.option("ignoreLeadingWhiteSpace", True)
    if d.line_terminator not in ("\r\n", "\n", "\r"):
        # Spark auto-detects the standard terminators; only exotic
        # SINGLE-char terminators are supported as lineSep —
        # truncating a multi-char one would split rows mid-cell at
        # every occurrence of its first character
        if len(d.line_terminator) != 1:
            raise ValueError(
                "unsupported lineTerminator "
                f"{d.line_terminator!r}: Spark's lineSep must be one "
                "character (or the standard \\r\\n / \\n / \\r)"
            )
        reader = reader.option("lineSep", d.line_terminator)
    if column_names is not None:
        schema = T.StructType([T.StructField(c, T.StringType()) for c in column_names])
        return reader.schema(schema).csv(path)
    df = reader.csv(path)
    # header=True + no schema yields all-string columns already
    return df


def _is_url(path: str) -> bool:
    return "://" in path


# one download per distinct URL per session; keyed by FULL URL and the
# on-disk name carries a URL hash, so two URLs sharing a basename
# (host-a/data.csv, host-b/data.csv) never collide (ADVICE/VERDICT r3 —
# the previous SparkFiles route cached by basename alone).
# validate_package drives resources concurrently (ThreadPoolExecutor),
# so the check-then-download miss path is serialized per URL: a global
# lock guards the registry of per-URL locks, each URL's download runs
# under its own lock — two threads localizing the SAME url wait on each
# other; distinct urls still download in parallel (ADVICE r4).
_URL_CACHE: dict[str, str] = {}
import threading as _threading

_URL_LOCKS_GUARD = _threading.Lock()
_URL_LOCKS: dict[str, _threading.Lock] = {}


def _url_lock(url: str) -> _threading.Lock:
    with _URL_LOCKS_GUARD:
        lock = _URL_LOCKS.get(url)
        if lock is None:
            lock = _URL_LOCKS[url] = _threading.Lock()
        return lock


def _download_atomic(url: str, dest: str) -> None:
    """Download ``url`` to ``dest`` atomically: stream to a unique temp
    name in the same directory, fsync, then os.replace into place — so
    a crash or failed transfer can never leave a truncated file at
    ``dest`` for the cross-process `os.path.exists` memo to serve as
    if complete (ADVICE r4). On any failure the partial temp file is
    unlinked before the exception propagates."""
    import tempfile
    import urllib.request

    fd, tmp = tempfile.mkstemp(
        prefix=os.path.basename(dest) + ".", suffix=".part",
        dir=os.path.dirname(dest) or None,
    )
    try:
        with os.fdopen(fd, "wb") as out, urllib.request.urlopen(url) as resp:  # noqa: S310
            while True:
                chunk = resp.read(1 << 20)
                if not chunk:
                    break
                out.write(chunk)
            out.flush()
            os.fsync(out.fileno())
        os.replace(tmp, dest)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def localize_url(spark: SparkSession, url: str) -> str:
    """Materialize a URL resource as a readable local path.

    ``file://`` URLs are already paths — return the path part.
    ``hdfs://`` / ``s3a://`` and other Hadoop-native schemes pass
    through untouched — Spark reads them directly on every executor,
    which is the correct route for cluster-scale URL inputs.

    ``http(s)://`` / ``ftp://`` are downloaded ONCE driver-side to a
    per-URL unique temp file. Where that file then lives depends on
    deployment:

    - **Staging dir configured** (``spark.goodtables.staging.dir`` —
      any Hadoop-visible URI: ``hdfs://``, ``s3a://``, shared NFS
      ``file://``): the download is copied there through the Hadoop
      FS API and the staged URI is returned. This is the CLUSTER-REAL
      route — every executor reads the staged copy directly.
    - **No staging dir, local master**: the driver-local temp path is
      returned (executors share the filesystem in local mode).
    - **No staging dir, cluster master**: raise immediately with the
      remedy, instead of failing later with an executor
      FileNotFoundException (VERDICT r3 §missing 4)."""
    from urllib.parse import urlparse

    parsed = urlparse(url)
    if parsed.scheme == "file":
        from urllib.parse import unquote

        return unquote(parsed.path)
    if parsed.scheme in ("http", "https", "ftp"):
        staging = spark.conf.get("spark.goodtables.staging.dir", None)
        master = getattr(spark, "sparkContext", None)
        master = (master.master or "") if master is not None else ""
        if not staging and not master.startswith("local"):
            raise ValueError(
                f"http/ftp resource {url!r} on master {master!r}: a "
                "driver-side download is invisible to cluster "
                "executors. Set spark.goodtables.staging.dir to a "
                "Hadoop-visible filesystem (hdfs://, s3a://, ...) to "
                "have it staged automatically, or point the resource "
                "path there yourself."
            )
        with _url_lock(url):
            if url in _URL_CACHE:
                return _URL_CACHE[url]
            import hashlib
            import tempfile

            name = parsed.path.rstrip("/").rsplit("/", 1)[-1] or "resource"
            digest = hashlib.sha256(url.encode("utf-8")).hexdigest()[:12]
            dest = os.path.join(
                tempfile.gettempdir(), f"gt_url_{digest}_{name}"
            )
            if not os.path.exists(dest):
                _download_atomic(url, dest)
            if staging:
                # Hadoop-only: the staging dir is remote by purpose;
                # Connect sessions must stage by hand (the
                # RuntimeError explains the remedy)
                jvm, hconf = _jvm_fs(spark)
                dst = jvm.org.apache.hadoop.fs.Path(
                    f"{staging.rstrip('/')}/gt_url_{digest}_{name}"
                )
                fs = dst.getFileSystem(hconf)
                if not fs.exists(dst):
                    src = jvm.org.apache.hadoop.fs.Path(f"file://{dest}")
                    # delSrc=False, overwrite=True
                    fs.copyFromLocalFile(False, True, src, dst)
                _URL_CACHE[url] = dst.toString()
            else:
                _URL_CACHE[url] = dest
        return _URL_CACHE[url]
    # hdfs:// s3a:// etc.: Hadoop-native schemes pass through untouched
    return url


def _first_file(spark: SparkSession, path: str) -> str | None:
    """Deterministically resolve the FIRST file of a glob/directory
    path (lexicographically smallest leaf), via the Hadoop FS API so
    every filesystem Spark can read is covered. Returns None when
    nothing matches. Without a JVM gateway (Spark Connect), local
    paths fall back to Python glob; remote schemes raise."""
    # Hadoop first even on local paths: the pick must match Spark's
    # own Hadoop glob reader, and Python glob has no {a,b}
    try:
        jvm, hconf = _jvm_fs(spark)
    except RuntimeError:
        local = _local_fs_path(path)
        if local is None:
            raise
        return _first_file_local(local)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    statuses = fs.globStatus(jpath)
    if statuses is None:
        return None
    leaves = []  # Hadoop Path objects
    for st in statuses:
        if st.isFile():
            leaves.append(st.getPath())
        elif st.isDirectory():
            for child in fs.listStatus(st.getPath()):
                if child.isFile():
                    leaves.append(child.getPath())
    by_name = {p.toString(): p for p in leaves}
    visible = [
        s for s in by_name
        if not s.rsplit("/", 1)[-1].startswith((".", "_"))
    ]
    if not visible:
        return None
    first = by_name[min(visible)]
    # Path.toString() is unescaped; the storage seam percent-decodes a
    # file: URI, so a local leaf goes as its escaped URI ('a%41.csv'
    # must not become 'aA.csv'). Hadoop takes its own string back.
    uri = first.toUri()
    return uri.toString() if uri.getScheme() == "file" else first.toString()


def _first_file_local(path: str) -> str | None:
    """Python-glob twin of :func:`_first_file` for local paths — the
    Spark Connect fallback (same semantics: lexicographically smallest
    visible leaf, one directory level deep)."""
    import glob as _glob

    leaves: list[str] = []
    for hit in _glob.glob(path):
        if os.path.isfile(hit):
            leaves.append(hit)
        elif os.path.isdir(hit):
            for child in os.listdir(hit):
                full = os.path.join(hit, child)
                if os.path.isfile(full):
                    leaves.append(full)
    visible = [
        p for p in leaves
        if not os.path.basename(p).startswith((".", "_"))
    ]
    return min(visible) if visible else None


def _read_first_line(
    spark: SparkSession, file_path: str, encoding: str, line_sep: str
) -> str:
    """First line of one concrete file — honors the declared
    encoding and line terminator (a bare spark.read.text would assume
    utf-8 and \\n). Reads at most 1 MiB (:func:`.storage.read_head`):
    a header longer than that is malformed by any reasonable
    standard."""
    data = read_head(spark, file_path, 1 << 20)
    # compressed members sniffed through globs / hadoop schemes land
    # here as raw bytes (the local single-file fast path opens them
    # with gzip/bz2 directly) — decompress the bounded prefix before
    # decoding, or the 'header' is mojibake that csv.reader happily
    # parses into nonsense columns and H1 reports every declared
    # field missing (r10 review fix). Streaming decompressors yield
    # whatever the 1 MiB prefix covers, which is plenty for a header.
    lower = file_path.lower()
    if lower.endswith((".gz", ".gzip")):
        import zlib

        data = zlib.decompressobj(wbits=47).decompress(data, 1 << 20)
    elif lower.endswith(".bz2"):
        import bz2

        data = bz2.BZ2Decompressor().decompress(data, 1 << 20)
    if lower.endswith((".gz", ".gzip", ".bz2")) and not data:
        # prefix didn't cover one whole compressed block — let the
        # caller's except degrade to Spark's own columns
        raise ValueError(f"undecodable compressed prefix: {file_path}")
    text = data.decode(encoding, errors="replace")
    if line_sep in text:
        return text.split(line_sep, 1)[0]
    # declared terminator absent (e.g. \r\n declared, file uses \n):
    # fall back to universal newline handling
    lines = text.splitlines()
    return lines[0] if lines else ""


def sniff_csv_header(
    spark: SparkSession,
    path: str,
    dialect: Dialect | None = None,
    encoding: str = "utf-8",
) -> list[str] | None:
    """Recover the TRUE header row of a CSV. ``spark.read.csv``
    auto-renames duplicate header names (a,a → a0,a1) and blank ones
    (→ _cN), which would blind the H1 duplicate-header/blank-header
    checks — so H1 must compare against the raw first line, parsed
    with the dialect. Bounded work: one line from one deterministically
    chosen file (lexicographically first for globs/directories),
    honoring the declared encoding and line terminator. Returns None
    (caller falls back to df.columns) when no file can be resolved —
    never a wrong-file guess.

    Limitation (documented): a quoted header cell containing an
    embedded line terminator is truncated at that terminator; such
    headers also break H1's raw-line model upstream."""
    import csv
    import io
    import os

    d = dialect or Dialect()
    if not d.header:
        return None
    if _is_url(path):
        path = localize_url(spark, path)
    if path.lower().rstrip("*").endswith((".zst", ".zstd")):
        # .zst is not gzip-transparent (see stage_zstd); the staging is
        # cached per (path, size, mtime), so the sniffer and the reader
        # share one decompression. Staging failures (no JVM gateway on
        # Connect, FS quirks) degrade to None like every other sniff
        # failure — the caller falls back to df.columns (r10 review)
        try:
            path = stage_zstd(spark, path)
        except Exception:
            return None
    line: str | None = None
    if os.path.isfile(path):
        # compressed text resources (data.csv.gz): Spark's reader
        # decompresses transparently, so the header sniff must too
        lower = path.lower()
        if lower.endswith((".gz", ".gzip")):
            import gzip as _opener
        elif lower.endswith(".bz2"):
            import bz2 as _opener
        else:
            _opener = None
        if _opener is not None:
            with _opener.open(path, "rt", encoding=encoding, newline="") as fh:
                line = fh.readline()
        else:
            with open(path, encoding=encoding, newline="") as fh:
                line = fh.readline()
    else:  # glob / directory / hadoop-scheme path
        line_sep = d.line_terminator if d.line_terminator else "\r\n"
        try:
            first = _first_file(spark, path)
            if first is None:
                return None
            line = _read_first_line(spark, first, encoding, line_sep)
        except Exception:  # FS quirks: fall back to Spark's own columns
            return None
    line = line.rstrip("\r\n").lstrip("\ufeff")
    reader = csv.reader(
        io.StringIO(line),
        delimiter=d.delimiter,
        quotechar=d.quote_char,
        escapechar=d.escape_char or None,
        doublequote=d.double_quote,
        skipinitialspace=d.skip_initial_space,
    )
    return next(reader, [])


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S3: typed parquet resource — our primary test path
    (TESTDATA.md). Columnar scan; Catalyst prunes columns/predicates."""
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """S3b: typed ORC resource — Spark-native columnar format with the
    same pushdown/pruning story as parquet (vectorized reader, min/max
    stripe skipping); same all-typed contract as :func:`read_parquet`
    (validate stringifies downstream)."""
    return spark.read.orc(path)


def read_avro(
    spark: SparkSession, path: str, sample_bytes: int = 1 << 20
) -> DataFrame:
    """S3c (r8): typed Avro resource.

    Production path: ``spark.read.format("avro")`` — the spark-avro
    module (splittable Hadoop input format, all container codecs,
    whole-stage codegen'd scan). Deploy its jar on real clusters.

    Fallback (this container ships no spark-avro jar): the pure
    OCF decoder in :mod:`.extensions.avrocodec` over a ``binaryFile``
    scan + Arrow-batched ``mapInPandas``. Parallelism is per-FILE —
    honest for multi-file avro exports (the norm), a documented
    single-task bottleneck for one giant file (deploy the jar). The
    schema comes from ONE driver-side header read, so the executors'
    plan has a fixed StructType and Catalyst can prune downstream."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:  # AnalysisException: jar not deployed
        if "Failed to find data source" not in str(exc):
            raise
    from .extensions.avrocodec import (
        AvroDecodeError,
        avro_to_spark_type,
        decode_avro,
        read_ocf_header,
        spark_value_converter,
    )

    first = _first_file(spark, path) or path
    head = read_head(spark, first, sample_bytes)
    try:
        schema_json, _codec, _sync, _off = read_ocf_header(head)
    except AvroDecodeError:
        # pathological header longer than the sample: read it all
        schema_json, _codec, _sync, _off = read_ocf_header(
            read_head(spark, first, 1 << 30)
        )
    spark_schema = avro_to_spark_type(schema_json)
    from pyspark.sql.types import StructType

    if not isinstance(spark_schema, StructType):
        raise ValueError(
            f"avro resource {path!r}: top-level schema must be a "
            f"record, got {schema_json!r}"
        )
    names = [f.name for f in spark_schema.fields]
    # per-field Arrow-boundary conversions (multi-branch unions ->
    # JSON strings, logical times -> ISO strings, timestamps ->
    # UTC-aware so the instant survives any session timezone); None
    # for the common all-primitive case
    convs = {
        f["name"]: spark_value_converter(f["type"])
        for f in schema_json["fields"]
    }
    convs = {k: c for k, c in convs.items() if c is not None}

    def _decode_files(batches):
        import pandas as pd

        for pdf in batches:
            for blob in pdf["content"]:
                _, recs = decode_avro(bytes(blob))
                if recs:
                    out = pd.DataFrame.from_records(recs, columns=names)
                    for col, conv in convs.items():
                        # na_action: from_records turns None into
                        # NaN/NaT in typed columns; leave them be
                        out[col] = out[col].map(conv, na_action="ignore")
                    yield out
                else:
                    yield pd.DataFrame({c: [] for c in names})

    bf = spark.read.format("binaryFile").load(path).select("content")
    return bf.mapInPandas(_decode_files, schema=spark_schema)


def stage_zstd(spark: SparkSession, path: str) -> str:
    """Materialize ``*.zst`` text resources as plain files Spark's
    readers can scan (r8 — VERDICT r7 item 4).

    Hadoop's ZStandardCodec needs native libhadoop, which most
    container images (this one included) lack — so ``.zst`` text is
    NOT transparently decompressed the way ``.gz``/``.bz2`` are.
    zstd-jni, however, ships INSIDE Spark (parquet/shuffle use it), so
    the driver streams each matched file through
    ``com.github.luben.zstd.ZstdInputStream`` into a per-(path, size,
    mtime) cached temp file and the caller reads that. Like gzip, zstd
    frames are not splittable, so a driver-side stream costs the same
    parallelism class as Hadoop's own gzip handling: one stream per
    file, files spread the work. On clusters with native libhadoop the
    codec route wins — this staging is the portable fallback, and it
    honors the same staging-dir contract as :func:`localize_url`
    (set ``spark.goodtables.staging.dir`` on cluster masters)."""
    import tempfile

    # Hadoop-only: decoding needs the JVM's zstd-jni and the staged
    # copy may go to a remote staging dir
    jvm, hconf = _jvm_fs(spark)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    statuses = fs.globStatus(jpath)
    if statuses is None or len(statuses) == 0:
        raise ValueError(f"zstd resource {path!r}: no files match")
    leaves = []
    for st in statuses:
        if st.isFile():
            leaves.append(st)
        elif st.isDirectory():
            leaves.extend(
                c for c in fs.listStatus(st.getPath()) if c.isFile()
            )
    leaves = [
        st for st in leaves
        if not st.getPath().getName().startswith((".", "_"))
    ]
    if not leaves:
        raise ValueError(f"zstd resource {path!r}: no visible files")
    master = getattr(spark, "sparkContext", None)
    master = (master.master or "") if master is not None else ""
    staging = spark.conf.get("spark.goodtables.staging.dir", None)
    if not staging and not master.startswith("local"):
        raise ValueError(
            f"zstd resource {path!r} on master {master!r}: driver-"
            "staged decompression is invisible to cluster executors. "
            "Set spark.goodtables.staging.dir, or install native "
            "libhadoop so the zstd codec reads the files in place."
        )
    # one dedicated staging directory per SOURCE path: multi-file globs
    # come back as a directory Spark's readers scan wholesale, and the
    # per-(len, mtime) fingerprint in the name keeps the cache fresh
    import hashlib

    fingerprint = hashlib.sha256(
        repr(
            [
                (
                    st.getPath().toString(),
                    st.getLen(),
                    st.getModificationTime(),
                )
                for st in sorted(
                    leaves, key=lambda s: s.getPath().toString()
                )
            ]
        ).encode()
    ).hexdigest()[:16]
    out_dir = os.path.join(tempfile.gettempdir(), f"gt_zstd_{fingerprint}")
    done_flag = os.path.join(out_dir, "._gt_staged")
    if not os.path.exists(done_flag):
        os.makedirs(out_dir, exist_ok=True)
        # no done_flag but files present = a prior staging run died
        # mid-copy (or predates the index-prefixed names). Re-staging
        # on top would leave the stale files beside the fresh ones and
        # the reader consumes the whole dir → duplicated rows (ADVICE
        # r10) — clear the dir first so staging is all-or-nothing.
        for stale in os.listdir(out_dir):
            os.remove(os.path.join(out_dir, stale))
        for i, st in enumerate(
            sorted(leaves, key=lambda s: s.getPath().toString())
        ):
            src = st.getPath()
            name = src.getName()
            for suf in (".zst", ".zstd"):
                if name.lower().endswith(suf):
                    name = name[: -len(suf)]
                    break
            # index prefix: a glob like data/*/part.csv.zst matches
            # same-named files in different directories — flattening
            # by basename alone silently overwrote all but the last,
            # halving the data with no error (r10 review fix)
            dest = os.path.join(out_dir, f"{i:05d}_{name}")
            zin = jvm.com.github.luben.zstd.ZstdInputStream(fs.open(src))
            fout = jvm.java.io.FileOutputStream(dest)
            try:
                # JVM-side copy loop: no per-byte py4j round trips
                jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                    zin, fout, 1 << 16, False
                )
            finally:
                zin.close()
                fout.close()
        open(done_flag, "w").close()
    single = (
        None
        if len(leaves) > 1
        else os.listdir(out_dir)
    )
    if staging:
        dst = jvm.org.apache.hadoop.fs.Path(
            f"{staging.rstrip('/')}/gt_zstd_{fingerprint}"
        )
        sfs = dst.getFileSystem(hconf)
        if not sfs.exists(dst):
            sfs.copyFromLocalFile(
                False, True,
                jvm.org.apache.hadoop.fs.Path(f"file://{out_dir}"),
                dst,
            )
        return dst.toString()
    if single is not None:
        files = [f for f in single if f != "._gt_staged"]
        if len(files) == 1:
            return os.path.join(out_dir, files[0])
    return out_dir


def read_xml_stringly(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    field_order: list[str] | None = None,
    encoding: str | None = None,
) -> DataFrame:
    """S3c: XML table resource via Spark 4's BUILT-IN xml datasource
    (the spark-xml module merged into core — no external jar), read
    ALL-STRING (``inferSchema=false``) so the engine's parsers stay
    the referee and lexical forms survive (``<id>01</id>`` reads as
    ``"01"``, not long 1). One ``row_tag`` element per table row;
    attributes surface with the default ``_`` prefix (``id="7"`` →
    column ``_id``); NESTED child elements arrive as structs/arrays
    even under inferSchema=false and are rendered to their JSON text
    (same fallback as the NDJSON reader) so P14/P15 object/array
    fields parse them. XML files are splittable on the row tag, so
    this path scales like the CSV reader.

    XML attributes/elements are keyed, not positional, and Spark
    surfaces the columns name-sorted — ``field_order`` (the declared
    schema's names) restores a canonical order for H1, exactly like
    the NDJSON path."""
    reader = (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("inferSchema", "false")
    )
    if encoding and encoding.lower() not in ("utf-8", "utf8"):
        reader = reader.option("charset", encoding)
    df = reader.load(path)
    fields = [
        f for f in df.schema.fields
        if not f.name.startswith("_corrupt_record")
    ]
    if field_order:
        pos = {name: i for i, name in enumerate(field_order)}
        fields.sort(key=lambda f: (pos.get(f.name, len(pos)), f.name))
    cols = []
    for f in fields:
        if isinstance(f.dataType, T.StringType):
            cols.append(F.col(f.name))
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name).cast("string").alias(f.name))
    return df.select(*cols)


def read_inline(spark: SparkSession, resource: Resource) -> DataFrame:
    """Inline ``data`` resources [SPEC data-package §resource.data]:
    array of objects, or array of arrays whose first row is the header
    (when dialect.header). Rendered all-string like the CSV path so
    the identical parse pipeline applies. Inline data is descriptor-
    sized by definition — driver-side construction is correct here."""
    data = resource.data
    if not isinstance(data, list) or not data:
        raise ValueError(f"resource {resource.name!r}: inline data must be a non-empty list")
    if isinstance(data[0], dict):
        columns: list[str] = []
        for row in data:
            for k in row:
                if k not in columns:
                    columns.append(k)
        rows = [tuple(_lex(row.get(c)) for c in columns) for row in data]
    else:
        if resource.dialect.header:
            columns = [str(c) for c in data[0]]
            body = data[1:]
        else:
            columns = [f"field{i + 1}" for i in range(len(data[0]))]
            body = data
        rows = [tuple(_lex(v) for v in row) for row in body]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in columns])
    return spark.createDataFrame(rows, schema)


def _lex(v) -> str | None:
    """Lexical render of an inline value (JSON-ish scalars; nested
    dicts/lists render as JSON so object/array parsers accept them —
    Python str() would produce single-quoted non-JSON)."""
    import json as _json

    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dict, list)):
        return _json.dumps(v)
    return str(v)


def _readable_path(spark: SparkSession, path: str, fmt: str) -> str:
    if _is_url(path):
        # local-or-URL path semantics (reference parity): http(s)/ftp
        # localize once via addFile, file:// unwraps, hadoop schemes
        # pass through
        path = localize_url(spark, path)
    if path.lower().rstrip("*").endswith((".zst", ".zstd")) and fmt in (
        "csv", "ndjson", "jsonl", "json", "xml",
    ):
        # .gz/.bz2 text decompresses transparently inside Spark's
        # readers; .zst needs native libhadoop, absent on most images —
        # stage through zstd-jni instead (see stage_zstd docstring)
        path = stage_zstd(spark, path)
    return path


def _read_csv_resource(
    spark: SparkSession, path: str, resource: Resource
) -> tuple[DataFrame, list[str] | None]:
    """A CSV resource and its raw header row (None when headerless).

    A HEADERLESS file has no names to observe — columns are positional
    and take the schema's names (else Spark invents _c0.._cN and every
    check dies on missing-header). With a header row, the names
    :func:`sniff_csv_header` reads on the driver are pinned as the
    all-string schema, so Spark runs no header-inference job — but only
    where Spark would keep them unchanged: every name non-blank and the
    names unique ignoring case (Spark renames blank names to _cN and
    duplicates to a0, a1, and H1 compares the raw row against those
    ``df.columns``), and no multiLine dialect (the sniff reads one
    physical line). Otherwise Spark infers the header, and so it does
    when the sniff fails (e.g. a first line that does not decode):
    H1 then falls back to ``df.columns``."""
    d = resource.dialect or Dialect()
    header = None
    names = None
    if not d.header:
        if resource.schema is not None:
            names = resource.schema.field_names
    else:
        try:
            header = sniff_csv_header(spark, path, d, resource.encoding)
        except Exception:
            header = None
        if (
            header
            and not d.multiline
            and all(c.strip() for c in header)
            and len({c.lower() for c in header}) == len(header)
        ):
            names = header
    df = read_csv_stringly(
        spark, path, resource.dialect, resource.encoding, column_names=names
    )
    return df, header


def read_resource_with_header(
    spark: SparkSession, resource: Resource
) -> tuple[DataFrame, list[str] | None]:
    """:func:`read_resource` plus the raw header row H1 compares
    against: the first line of a path-backed CSV with a header row
    (Spark mangles duplicate and blank names before ``df.columns``
    exists), None for every other source."""
    fmt = (resource.format or "csv").lower()
    if resource.data is None and resource.path is not None and fmt == "csv":
        path = _readable_path(spark, resource.path, fmt)
        return _read_csv_resource(spark, path, resource)
    return read_resource(spark, resource), None


def read_resource(spark: SparkSession, resource: Resource) -> DataFrame:
    if resource.data is not None:
        return read_inline(spark, resource)
    if resource.path is None:
        raise ValueError(f"resource {resource.name!r} has no path")
    fmt = (resource.format or "csv").lower()
    path = _readable_path(spark, resource.path, fmt)
    if fmt == "parquet":
        return read_parquet(spark, path)
    if fmt == "orc":
        return read_orc(spark, path)
    if fmt == "avro":
        return read_avro(spark, path)
    if fmt == "csv":
        return _read_csv_resource(spark, path, resource)[0]
    if fmt in ("ndjson", "jsonl"):
        field_order = (
            resource.schema.field_names if resource.schema else None
        )
        return read_ndjson_stringly(
            spark, path, field_order, resource.encoding
        )
    if fmt == "xml":
        return read_xml_stringly(
            spark,
            path,
            row_tag=resource.row_tag or "row",
            field_order=(
                resource.schema.field_names if resource.schema else None
            ),
            encoding=resource.encoding,
        )
    if fmt == "json":
        # Data Package JSON table: ONE document holding the whole
        # table (array of objects, or array of arrays with a header
        # row) — single-document JSON is not line-splittable, so like
        # the inline-data path it is descriptor-scale by nature and a
        # driver-side load is correct; NDJSON is the at-scale format
        import json as _json

        if "://" in path and not path.startswith("file://"):
            # hadoop-scheme paths (s3a://, hdfs://, including staged
            # http resources) are not open()-able on the driver — read
            # the single document's BYTES through the Hadoop FS binary
            # reader and decode with the declared encoding ourselves
            # (spark.read.text would hardwire UTF-8)
            rows = spark.sparkContext.binaryFiles(path).take(1)
            if not rows:
                raise ValueError(
                    f"resource {resource.name!r}: empty JSON table at {path}"
                )
            data = _json.loads(
                rows[0][1].decode(resource.encoding or "utf-8")
            )
        else:
            local = path[7:] if path.startswith("file://") else path
            with open(local, encoding=resource.encoding or "utf-8") as fh:
                data = _json.load(fh)
        import dataclasses

        return read_inline(
            spark, dataclasses.replace(resource, data=data, path=None)
        )
    raise ValueError(f"unsupported resource format {fmt!r}")


def read_ndjson_stringly(
    spark: SparkSession,
    path: str,
    field_order: list[str] | None = None,
    encoding: str | None = None,
) -> DataFrame:
    """Newline-delimited JSON (the training-data interchange format)
    as ALL-STRING columns, so the identical parse pipeline applies
    (S2 semantics: the engine's parsers are the referee, not Spark's
    schema inference). NDJSON is line-splittable — this path scales
    like the CSV reader (one task per split), unlike single-document
    ``format: json``.

    Two plans, both yielding only string columns:

    - ``field_order`` given (a schema is declared — the validation
      norm) and the file is UTF-8: ONE pass with a pinned all-string
      schema, which is also the highest-fidelity read — Spark's JSON
      parser captures the RAW token text per field (scalars keep
      their exact lexical form, ``"07"`` stays ``07``; nested arrays/
      objects arrive as their raw JSON text for P14/P15). The column
      set is the DECLARED fields ∪ the first record's keys (sniffed
      like the CSV header — one tiny job): every declared field is
      always pinned, so a field absent from sparse early records
      still reads (absent keys are null — keyed formats have no
      positional header, missing data surfaces through ``required``
      rather than ``missing-header``); extra keys first appearing
      AFTER the first record are not discovered.
    - no schema (or a non-UTF-8 encoding, where a text-based key
      sniff can't be trusted): full inference (an extra pass over the
      data — fine for exploration, not the 100 TB path), cast
      scalars to string, ``to_json`` nested values.

    JSON objects are UNORDERED, but Spark surfaces keys
    alphabetically — which would trip H1's positional
    ``non-matching-header`` check built for CSV. ``field_order``
    restores a canonical order: schema fields first in schema order,
    then extras."""
    import json as _json

    reader = spark.read
    utf8 = not encoding or encoding.lower() in ("utf-8", "utf8")
    if not utf8:
        reader = reader.option("encoding", encoding).option("lineSep", "\n")

    if field_order is not None and utf8:
        sniffed: list[str] | None = None
        try:
            first = spark.read.text(path).limit(1).collect()
            rec = _json.loads(first[0][0]) if first else None
            if isinstance(rec, dict):
                sniffed = list(rec)
        except Exception:
            sniffed = None  # corrupt first line → inference fallback
        if sniffed is not None:
            pos = {name: i for i, name in enumerate(field_order)}
            names = list(field_order) + [
                k for k in sniffed if k not in pos
            ]
            names.sort(key=lambda k: (pos.get(k, len(pos)), k))
            pinned = T.StructType(
                [T.StructField(n, T.StringType()) for n in names]
            )
            return reader.schema(pinned).json(path)

    df = reader.json(path)
    fields = [
        f for f in df.schema.fields
        if not f.name.startswith("_corrupt_record")
    ]
    if field_order:
        pos = {name: i for i, name in enumerate(field_order)}
        fields.sort(key=lambda f: (pos.get(f.name, len(pos)), f.name))
    cols = []
    for f in fields:
        if isinstance(f.dataType, T.StringType):
            cols.append(F.col(f.name))
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name).cast("string").alias(f.name))
    return df.select(*cols)


def ensure_parallelism(
    df: DataFrame,
    target: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Repartition only when the source yields far fewer partitions
    than the session's parallelism (e.g. single-row-group parquet
    files, which Spark cannot split below one task per row group).
    At real scale (partitions >> cores) this is a no-op, so no shuffle
    is added where it would hurt; on under-split inputs the one cheap
    shuffle unlocks full-width execution for everything downstream.

    ``keys`` (r12, guide §2.4): when given (and present on the frame),
    the repartition HASHES on those columns instead of round-robin —
    two wins for the same shuffle: (a) a downstream groupBy/distinct
    on the same columns reuses the partitioning and skips its own
    exchange (validate_table passes the primary key so the PK check
    runs exchange-free on the cache), and (b) hash partitioning is
    deterministic, so Spark skips the per-task local sort that
    round-robin pays for retry-safety (sortBeforeRepartition). Only
    sensible for near-unique keys — a hot key would skew where
    round-robin balances."""
    spark = df.sparkSession
    if target is None:
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # JVM-side partition count: df.rdd would initialize the Python RDD
    # serializer machinery (~1s first use per session) for a number the
    # JVM already knows. The _jdf handle is a private classic-session
    # API absent under Spark Connect / liable to move across versions,
    # so it is an opportunistic fast path only — any failure falls back
    # to the public df.rdd (VERDICT r5 item 6).
    try:
        current = df._jdf.rdd().getNumPartitions()
    except Exception:
        try:
            current = df.rdd.getNumPartitions()
        except Exception:
            # Spark Connect exposes neither handle; partition count is
            # unknowable there — skip the (optional) repartition rather
            # than fail the read path
            return df
    if current * 2 <= target:
        if keys and all(k in df.columns for k in keys):
            return df.repartition(target, *[F.col(k) for k in keys])
        return df.repartition(target)
    return df


def render_lexical(c, dtype):
    """One column's lexical (CSV-equivalent) rendition — the
    per-column kernel of :func:`stringly`, shared with the r6 typed
    fast path in validate (which renders lazily, only for the columns
    that still need a string form). Dates/timestamps use ISO forms
    matching Table Schema defaults."""
    if isinstance(dtype, T.DateType):
        return F.date_format(c, "yyyy-MM-dd")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # sub-second precision must round-trip losslessly through
        # the lexical form (the datetime parser accepts [.SSSSSS]);
        # the fraction is appended only when non-zero so
        # whole-second sources keep their canonical short form
        base = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
        frac = F.date_format(c, "SSSSSS")
        return F.when(frac == "000000", base).otherwise(
            F.concat(base, F.lit("."), frac)
        )
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # Table Schema's lexical space spells the specials NaN/INF/-INF
        # (case-sensitive); Spark's cast renders "Infinity", which the
        # spec-strict number parser rightly rejects — a typed infinity
        # must render to its CANONICAL lexical form or a perfectly
        # valid value round-trips into a type error (r6, caught by the
        # typed-fast-path equivalence test)
        return (
            F.when(F.isnan(c), F.lit("NaN"))
            .when(c == float("inf"), F.lit("INF"))
            .when(c == float("-inf"), F.lit("-INF"))
            .otherwise(c.cast(T.StringType()))
        )
    return c.cast(T.StringType())


def stringly(df: DataFrame) -> DataFrame:
    """Render a typed DataFrame lexically (every column cast to
    string) — lets the parser/validation pipeline run against typed
    sources exactly as it would against CSV text."""
    return df.select(
        *[
            render_lexical(F.col(f.name), f.dataType).alias(f.name)
            for f in df.schema.fields
        ]
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: list[str],
    num_buckets: int = 32,
    path: str | None = None,
) -> DataFrame:
    """Bucketed sink (SURVEY.md §4.3.3 scale path): tables bucketed on
    the same key with the same bucket count join/aggregate WITHOUT a
    shuffle — the hash partitioning is baked into the files, so at
    100 TB repeated FK checks or dedup passes pay the shuffle once at
    write time, never per query. Sorted within buckets so merge joins
    skip the sort too. Returns the catalog-backed DataFrame."""
    writer = (
        df.write.bucketBy(num_buckets, *key)
        .sortBy(*key)
        .mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
    return df.sparkSession.table(table_name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet sink — the LAYOUT half of the
    scale story that :func:`write_bucketed` tells for JOIN keys:
    queries filtering on ``partition_by`` columns (ingest date, source,
    language bucket) read only the matching directories — partition
    PRUNING happens at file-listing time, before a single byte of data
    is scanned. At 100 TB an unpartitioned audit table makes every
    "yesterday's errors" query a full scan; a date-partitioned one
    makes it a one-directory read.

    ``sort_by`` sorts WITHIN each output task's files (no global
    shuffle, no added exchange) so parquet writes tight min/max
    row-group stats on those columns — point/range filters then skip
    whole row groups inside the matching partitions (e.g. sort error
    audits by resource so per-table drill-downs skip unrelated
    groups).

    ``max_records_per_file`` bounds file size so a skewed partition
    (one hot ingest day) still yields parallel-readable files rather
    than one giant one. Partition count hygiene is the caller's job:
    partition on LOW-cardinality columns (dates, sources — not IDs);
    a 10M-value partition column means 10M directories and a dead
    file listing. ``mode="append"`` suits incremental audit sinks
    (each run adds files inside the partition dirs it touches)."""
    writer = df
    if sort_by:
        writer = writer.sortWithinPartitions(*sort_by)
    w = writer.write.mode(mode).partitionBy(*partition_by)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.parquet(path)


# --- Z-order layout ---------------------------------------------------------


def zorder_boundaries(
    df: DataFrame, cols: list[str], bits: int = 6
) -> dict[str, list[float]]:
    """Per-column quantile boundaries (2^bits - 1 cut points each) for
    :func:`zorder_key`, from ONE approx-quantile pass (Greenwald-Khanna
    sketch — no sort, no shuffle; the boundary lists are tiny and live
    on the driver). Quantile bucketing rank-normalizes skew: uniform
    bucket POPULATIONS regardless of the value distribution, which is
    what makes the interleaved key balance its dimensions."""
    if not 1 <= bits <= 8:
        raise ValueError("bits must be in [1, 8]")
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    qs = df.approxQuantile(
        [c for c in cols], probs, 0.001
    )
    return {c: qs[i] for i, c in enumerate(cols)}


def _bucket_search(col: Column, bnds: list[float], lo: int, hi: int) -> Column:
    """#boundaries <= col, as a BINARY-SEARCH when-tree (depth
    log2(#bnds), pure codegen — an aggregate() over a literal array
    would run one interpreted lambda per boundary per row)."""
    if lo >= hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return (
        F.when(col >= F.lit(float(bnds[mid])),
               _bucket_search(col, bnds, mid + 1, hi))
        .otherwise(_bucket_search(col, bnds, lo, mid))
    )


def zorder_key(
    boundaries: dict[str, list[float]], bits: int = 6
) -> Column:
    """Z-order (Morton) key over the ``boundaries`` columns: each
    column quantile-bucketed to ``bits`` bits (binary-search when-tree,
    codegen), bucket bits INTERLEAVED so that sorting by the key
    clusters rows that are close in EVERY dimension at once — the
    multi-dimensional analogue of ``sort_by`` min/max clustering, and
    the same layout trick behind Delta/Iceberg OPTIMIZE ZORDER
    (public). NULL values bucket to 0 (they sort first, as in a plain
    sort). Column order in ``boundaries`` decides bit significance
    ties only; locality is symmetric across dimensions."""
    cols = list(boundaries)
    ndim = len(cols)
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    z = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        bnds = boundaries[c]
        b = _bucket_search(
            F.col(c).cast("double"), bnds, 0, len(bnds)
        ).cast("long")
        b = F.coalesce(b, F.lit(0).cast("long"))
        for k in range(bits):
            bit = F.shiftright(b, k).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, k * ndim + d))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 6,
    num_files: int | None = None,
    max_records_per_file: int | None = None,
) -> dict[str, list[float]]:
    """Z-ordered parquet sink — the MULTI-dimensional member of the
    layout trio (:func:`write_partitioned` prunes directories,
    :func:`write_bucketed` co-locates join keys, this clusters row
    groups for range filters on SEVERAL columns at once). Rows are
    range-partitioned and sorted by the interleaved
    :func:`zorder_key`, so every output file's parquet min/max stats
    are tight in EVERY z-ordered column simultaneously — a filter on
    any one (or several) of them skips most files/row groups, where a
    single-column sort gives tight stats on the leading column only.
    One quantile pass + ONE range shuffle at write time; reads pay
    nothing. Returns the boundaries used (persist them to z-order
    later increments identically)."""
    bounds = zorder_boundaries(df, cols, bits)
    z = df.withColumn("__z", zorder_key(bounds, bits))
    n = num_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    w = (
        z.repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
    )
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.parquet(path)
    return bounds


def _input_bytes(spark: SparkSession, df: DataFrame) -> int | None:
    """Total on-disk bytes of a DataFrame's input files, or None when
    they cannot be sized (non-local store without a JVM gateway)."""
    try:
        return sum(size(spark, f) for f in df.inputFiles())
    except Exception:
        return None


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_mb: int = 512,
    partition_cols: list[str] | None = None,
    shuffle: bool = False,
) -> dict:
    """Small-files compaction (S4 sink hygiene): rewrite a parquet
    dataset into ~``target_file_mb`` files. The small-files problem
    is the default failure mode of incremental/streaming sinks at
    100 TB — a million 2 MB files turn every scan into a listing +
    open storm and wreck row-group statistics.

    Shape: size the input from the file listing (driver-side, no data
    read), pick ``n_out = ceil(bytes / target)``, then ``coalesce``
    (map-side merge, NO shuffle — the right default for pure
    compaction) or ``repartition`` when ``shuffle=True`` (pays one
    exchange to also rebalance skewed file sizes). With
    ``partition_cols`` the rewrite keeps the hive layout and hashes
    on the partition columns so each output task writes few
    directories. Writes a COMPACTED COPY — never in place (an
    in-place swap is store-specific and unsafe to generalize);
    verify+swap belongs to the caller's orchestration, and
    ``release_diff`` can certify the copy row-for-row.

    Returns ``{files_before, files_after, bytes, n_out}``.
    """
    if target_file_mb <= 0:
        raise ValueError("target_file_mb must be positive")
    df = spark.read.parquet(in_path)
    files_before = len(df.inputFiles())
    nbytes = _input_bytes(spark, df)
    if nbytes is None:
        # unsized store: fall back to one output file per 8 inputs —
        # still a compaction, loudly approximate
        n_out = max(1, files_before // 8)
    else:
        n_out = max(1, -(-nbytes // (target_file_mb * 1024 * 1024)))
    if partition_cols:
        out = df.repartition(n_out, *[F.col(c) for c in partition_cols])
        writer = out.write.mode("overwrite").partitionBy(*partition_cols)
    else:
        out = df.repartition(n_out) if shuffle else df.coalesce(n_out)
        writer = out.write.mode("overwrite")
    writer.parquet(out_path)
    files_after = len(spark.read.parquet(out_path).inputFiles())
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": nbytes,
        "n_out": int(n_out),
    }
