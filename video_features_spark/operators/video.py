"""Video container → frame stream (the S2 scan).

The reference's core input operator is a ``cv2.VideoCapture`` read loop: open
the container, pull frames in order, derive each frame's timestamp from frame
index / fps (``/root/reference/utils/io.py:96-154``). Re-expressed Spark-first:
the container rides a binary column, one ``mapInPandas`` pass demuxes it into
one ROW PER FRAME (clip id, frame index, event-time frame_ts, JPEG bytes) —
map-only, no shuffle — and the existing image pipeline
(``features.extract_image_features``) consumes the output unchanged, closing
the reference's video → preprocess → model composition end to end.

In-process support is MJPEG-in-AVI (``functions/avi.py`` + the pure-numpy
T.81 JPEG decoder); other codecs raise per row and quarantine (S10), with the
ffmpeg-adapter recipe on the demux seam for deployments that ship ffmpeg.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame

from .._worker import cache_zip_directories
from ..functions.avi import demux_video


def extract_video_frames(
    df: DataFrame,
    video_col: str = "video",
    id_cols: Sequence[str] = ("video_id", "entity_id"),
    ts_col: str = "ts",
    total: int | None = None,
) -> DataFrame:
    """(id cols, clip ts, AVI bytes) → one row per frame:
    (id cols, frame_idx, frame_ts = clip ts + idx/fps, bytes, fmt, error).

    ``total``: extract exactly ``total`` evenly-spaced frames per clip — the
    reference's fixed-frame-count mode (``utils/io.py:83-88`` re-encodes to
    ``fps' = total·fps/num_frames``; here it's a per-row index selection, a
    filter instead of a subprocess). frame_idx keeps the ORIGINAL container
    index so frame_ts stays true event time. Clips with fewer frames than
    ``total`` emit all their frames. The fps-resampling mode (S4) composes
    downstream via ``operators.windows.resample`` over ``frame_ts``.

    Corrupt/unsupported containers emit a single quarantine row (null
    frame_idx, the error string) so no input disappears silently."""
    if total is not None and total < 1:
        raise ValueError(f"total must be >= 1, got {total}")
    id_cols = list(id_cols)
    schema_id = ", ".join(f"`{c}` {df.schema[c].dataType.simpleString()}" for c in id_cols)
    out_schema = (
        f"{schema_id}, frame_idx int, frame_ts timestamp, "
        f"bytes binary, fmt string, error string"
    )
    cols = id_cols + ["frame_idx", "frame_ts", "bytes", "fmt", "error"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache_zip_directories()
        for b in batches:
            rows = []
            for i in range(len(b)):
                ids = tuple(b[c].iloc[i] for c in id_cols)
                ts0 = b[ts_col].iloc[i]
                try:
                    fps, frames = demux_video(bytes(b[video_col].iloc[i]))
                    if total is not None and len(frames) > total:
                        # evenly-spaced original indices (first frame kept)
                        keep = [
                            round(k * (len(frames) - 1) / (total - 1)) if total > 1 else 0
                            for k in range(total)
                        ]
                    else:
                        keep = range(len(frames))
                    for j in keep:
                        rows.append(
                            (*ids, j, ts0 + pd.Timedelta(seconds=j / fps),
                             bytearray(frames[j]), "jpg", None)
                        )
                except Exception as e:  # noqa: BLE001 - quarantine, don't die
                    rows.append((*ids, None, None, None, None, f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(rows, columns=cols)

    return df.select(*id_cols, ts_col, video_col).mapInPandas(run, schema=out_schema)
