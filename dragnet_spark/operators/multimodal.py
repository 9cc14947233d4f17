"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride the pipeline as ``binary`` columns with a typed
metadata struct (:func:`media_table` builds the shape); decode and
feature extraction run per payload in one Arrow stage
(``extract.map_doc_rows``).  No codec ships with the package, so the
decode step is STUBBED (:func:`decode_media` raises NotImplementedError;
:func:`fake_decode` is the deterministic stand-in used by tests) -- the
Spark-side plumbing (schema, batch shape, partitioning, UDF signatures)
is real and tested, and a real codec drops into :data:`_DECODERS`.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F

from .extract import map_doc_rows

_DECODERS = {}  # kind -> callable(bytes) -> np.ndarray; none shipped here


def decode_media(kind: str, payload: bytes):
    """Decode a media payload to a dense array.  STUB: the container has
    no image/audio codecs; register one in ``_DECODERS`` to activate."""
    try:
        decoder = _DECODERS[kind]
    except KeyError:
        raise NotImplementedError(
            'no %r codec in this environment; plumbing is exercised via '
            'fake_decode' % kind) from None
    return decoder(payload)


def fake_decode(payload: bytes, n_features=16):
    """Deterministic stand-in decoder: byte histogram folded to
    n_features -- keeps the feature-extraction stage end-to-end testable."""
    arr = np.frombuffer(payload or b'\x00', dtype=np.uint8)
    hist = np.bincount(arr % n_features, minlength=n_features)
    return (hist / max(len(arr), 1)).astype(np.float64)


def media_table(docs_df, text_col='text'):
    """Synthesize the media table shape from a text corpus: payload =
    utf-8 bytes of the text (a deterministic opaque blob), metadata
    derived.  Real pipelines point this at the Iceberg media table."""
    return docs_df.select(
        F.concat(F.lit('img://'), F.col('doc_id').cast('string'),
                 F.lit('/0.jpg')).alias('media_ref'),
        F.col('doc_id').cast('string').alias('doc_id'),
        F.encode(F.col(text_col), 'utf-8').alias('payload'),
        F.struct(
            F.lit('image').alias('kind'),
            F.octet_length(F.col(text_col)).cast('long').alias('n_bytes'),
            F.lit('image/jpeg').alias('mime'),
        ).alias('meta'),
    )


def extract_media_features(media_df, n_features=16):
    """Feature extraction over binary payloads (one Arrow stage; swap
    fake_decode for a real codec via _DECODERS)."""
    schema = pa.schema([('media_ref', pa.string()),
                        ('features', pa.list_(pa.float64()))])

    def per_row(media_ref, payload):
        return ({'media_ref': media_ref,
                 'features': fake_decode(payload, n_features).tolist()},)

    return map_doc_rows(media_df.select('media_ref', 'payload'), per_row,
                        schema)


def media_stats(media_df):
    """Metadata aggregation -- JVM-side, oracle-checkable."""
    return media_df.select(
        'media_ref', 'doc_id',
        F.col('meta.n_bytes').alias('n_bytes'),
        F.octet_length('payload').cast('long').alias('payload_bytes'),
    )
