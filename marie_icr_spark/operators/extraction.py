"""The extraction operator: transcripts → per-turn extracted content.

Spark-first design notes (the reference loops pages in-process,
``marie/pipe/extract_pipeline.py:263-387``; here every turn is an independent
row, so the hot path is a **narrow** Arrow-batched map — zero shuffle, scales
linearly with executors at 10^12 turns):

* payload parsing/extraction runs Arrow-batched through the one per-turn
  dispatcher, ``extractors.core.extract_turn_arrow`` — no row-at-a-time
  Python UDFs. Its golden view ``extract_turn`` (the same result with the
  structs as field-name dicts) is the single-process oracle twin;
* the Arrow boundary uses ``mapInArrow``: passthrough columns (conv_id,
  ts, …) are forwarded as the SAME Arrow arrays that arrived (zero
  conversion), and the word/line struct columns are built directly with
  ``pa.array`` over field-ordered tuples — ~5× faster than pandas
  object-column struct conversion, measured ~13% end-to-end on the
  full-fidelity bench query;
* ``salt_repartition`` is used *before* extraction only to even out skewed
  input splits (hot conversations in few files); extraction itself never
  groups by conv_id;
* the full word/line structs (layout turns) are optional — column pruning
  keeps the bench path lean, mirroring the reference's base64 payload pruning
  (``marie/ocr/ocr_engine.py:392-412``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..extractors.core import extract_turn_arrow

WORD_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("confidence", T.DoubleType()),
            T.StructField("box", T.ArrayType(T.IntegerType())),
            T.StructField("line", T.IntegerType()),
            T.StructField("word_index", T.IntegerType()),
        ]
    )
)
LINE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("line", T.IntegerType()),
            T.StructField("wordids", T.ArrayType(T.IntegerType())),
            T.StructField("text", T.StringType()),
            T.StructField("bbox", T.ArrayType(T.IntegerType())),
            T.StructField("confidence", T.DoubleType()),
        ]
    )
)

_BASE_FIELDS = [
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("payload_kind", T.StringType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("span_count", T.IntegerType()),
]

EXTRACTED_SCHEMA = T.StructType(_BASE_FIELDS)
EXTRACTED_FULL_SCHEMA = T.StructType(
    _BASE_FIELDS
    + [T.StructField("words", WORD_TYPE), T.StructField("lines", LINE_TYPE)]
)

# The same struct types as Arrow types: ``pa.array`` builds the columns
# straight from the field-ordered tuples of ``extract_turn_arrow``.
_WORD_PA = to_arrow_type(WORD_TYPE)
_LINE_PA = to_arrow_type(LINE_TYPE)

_PASSTHROUGH = ("conv_id", "turn_idx", "role", "tool", "ts")


def _extract_batches(
    batches: Iterator[pa.RecordBatch],
    with_structs: bool,
    mode: str,
    columns: tuple[str, ...] | None = None,
) -> Iterator[pa.RecordBatch]:
    want = (lambda c: True) if columns is None else (set(columns).__contains__)
    need_text = want("extracted_text")
    for rb in batches:
        names = rb.schema.names
        texts = rb.column(names.index("text")).to_pylist()
        kinds, outs, spans = [], [], []
        words, lines = [], []
        for t in texts:
            kind, out, span, wts, lts = extract_turn_arrow(
                t, mode=mode, with_structs=with_structs
            )
            kinds.append(kind)
            if need_text:
                outs.append(out)
            spans.append(span)
            words.append(wts)
            lines.append(lts)
        # passthrough columns are forwarded as the arrays they arrived in —
        # no pandas roundtrip, no copy
        arrays = [
            rb.column(names.index(c)) for c in _PASSTHROUGH if want(c)
        ]
        out_names = [c for c in _PASSTHROUGH if want(c)]
        for nm, arr, typ in (
            ("payload_kind", kinds, pa.string()),
            ("extracted_text", outs, pa.string()),
            ("span_count", spans, pa.int32()),
        ):
            if want(nm):
                arrays.append(pa.array(arr, typ))
                out_names.append(nm)
        if with_structs:
            for nm, arr, typ in (
                ("words", words, _WORD_PA), ("lines", lines, _LINE_PA),
            ):
                if want(nm):
                    arrays.append(pa.array(arr, typ))
                    out_names.append(nm)
        yield pa.RecordBatch.from_arrays(arrays, names=out_names)


def extract_turns(
    df: DataFrame,
    with_structs: bool = False,
    mode: str = "sparse",
    columns: tuple[str, ...] | None = None,
) -> DataFrame:
    """Run main-content extraction over a transcript DataFrame.

    Input columns: at least (conv_id, turn_idx, role, text, tool). Output is
    one row per turn with (payload_kind, extracted_text, span_count) and,
    when ``with_structs``, the layout word/line structs (FIXTURES.md §3).
    ``mode`` = PSM contract for layout payloads (extractors.layout.PSM_MODES,
    honored per call as the reference honors it per region,
    marie/ocr/ocr_engine.py:319-322).

    ``columns``: optional OUTPUT projection. Catalyst cannot prune columns
    through an opaque ``mapInArrow``, so an aggregate that only needs
    (payload_kind, span_count) would otherwise pay for (a) scanning every
    passthrough column off parquet and (b) shipping a corpus-sized
    ``extracted_text`` Arrow string column to the JVM just to drop it.
    Passing the needed subset pushes the projection through BOTH sides of
    the boundary: unused passthroughs never leave the scan (ReadSchema
    shrinks to ``text`` alone in the extreme), and unwanted outputs are
    never built. Order is canonical (schema order), not caller order.
    """
    schema = EXTRACTED_FULL_SCHEMA if with_structs else EXTRACTED_SCHEMA
    if columns is not None:
        unknown = set(columns) - {f.name for f in schema.fields}
        if unknown:
            raise ValueError(
                f"extract_turns columns not in output schema: {sorted(unknown)}"
            )
        schema = T.StructType(
            [f for f in schema.fields if f.name in set(columns)]
        )
        cols = ["text"] + [c for c in _PASSTHROUGH if c in set(columns)]
    else:
        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    return df.select(*cols).mapInArrow(
        lambda it: _extract_batches(it, with_structs, mode, columns),
        schema=schema,
    )


def with_meta(extracted: DataFrame) -> DataFrame:
    """Attach the reference's per-page ``meta`` header to a full-fidelity
    extraction frame (``extract_turns(..., with_structs=True)`` output).

    Shape contract (marie/document/ocr_processor.py:140-144 and
    marie/components/document_indexer/transformers.py:357): ``imageSize``
    {width, height} is the layout-grid envelope of the page's lines,
    ``page`` is the frame index (turn_idx in this transposition), ``lang``
    is pinned 'en' exactly as the reference pins it; plus the line
    inventory the NER indexer consumes (transformers.py:852-875): ``lines``
    count and ``lines_bboxes`` in line order. Pure Column math over the
    already-built structs — no extra shuffle, no Python boundary."""
    width = F.coalesce(
        F.array_max(F.transform("lines", lambda l: l["bbox"][0] + l["bbox"][2])),
        F.lit(0),
    ).cast("int")
    height = F.coalesce(
        F.array_max(F.transform("lines", lambda l: l["bbox"][1] + l["bbox"][3])),
        F.lit(0),
    ).cast("int")
    return extracted.withColumn(
        "meta",
        F.struct(
            F.struct(
                width.alias("width"), height.alias("height")
            ).alias("imageSize"),
            F.col("turn_idx").alias("page"),
            F.lit("en").alias("lang"),
            F.size("lines").alias("lines"),
            F.transform("lines", lambda l: l["bbox"]).alias("lines_bboxes"),
        ),
    )


def salt_repartition(
    df: DataFrame, num_partitions: int, salt_buckets: int = 64
) -> DataFrame:
    """Spread hot conversations across ``salt_buckets`` sub-keys.

    Hash-partitioning on (conv_id, salt) instead of conv_id alone bounds any
    single task's share of a hot conversation to ~1/salt_buckets — the
    explicit skew story required at 10^12 turns (SURVEY.md §4). The salt
    is derived from turn_idx, so it is deterministic and reassembly can unsalt
    by simply re-grouping on conv_id.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(salt_buckets))
    )
    return salted.repartition(num_partitions, F.col("conv_id"), F.col("_salt")).drop(
        "_salt"
    )
