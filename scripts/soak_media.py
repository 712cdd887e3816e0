"""Media-codec soak: drive the full from-scratch codec family at volume.

Synthesizes N media rows per format executor-side — BMP gray, baseline
JPEG gray, YCbCr 4:2:0 color JPEG, PNG RGB, GIF — encodes them with the
real writers, decodes them back through ``decode_media``'s real dispatch,
and cross-checks every decoded (dims, mean) against the closed-form
fixture law.  Plus an AVI/MJPEG clip pass through ``decode_video``.

    python scripts/soak_media.py [n_per_format]    # default 10_000

Prints per-format rows/sec and asserts zero mismatches — the throughput
record for the multimodal path (bench.py carries the per-round numbers;
this is the volume smoke).
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from soak import measure, session


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    from radohydro_spark.operators.multimodal import decode_media, decode_video

    spark, tr = session("soak_media")

    def run_format(fmt: str) -> None:
        ids = spark.range(0, n, 1, 32).select(F.col("id").alias("media_id"))

        def gen(it):
            from radohydro_spark.sources.bmp import encode_bmp
            from radohydro_spark.sources.gif import encode_gif
            from radohydro_spark.sources.jpeg import (
                encode_jpeg_color,
                encode_jpeg_gray,
            )
            from radohydro_spark.sources.png import encode_png

            for pdf in it:
                out_ids, payloads = [], []
                for mid in pdf["media_id"]:
                    mid = int(mid)
                    if fmt == "jpeg_color":  # MCU-aligned dims (16x16)
                        w, h = 16 + (mid % 3) * 16, 16 + (mid % 2) * 16
                    else:
                        w, h = 16 + (mid % 3) * 8, 16 + (mid % 2) * 8
                    i = np.arange(w * h, dtype=np.int64)
                    gray = ((mid * 31 + i * 7) % 256).astype(np.uint8).reshape(h, w)
                    if fmt == "bmp":
                        payload = encode_bmp(gray)
                    elif fmt == "jpeg":
                        blocks = gray[::8, ::8]
                        payload = encode_jpeg_gray(
                            np.kron(blocks, np.ones((8, 8), np.uint8))
                        )
                    elif fmt == "jpeg_color":
                        mcus = gray[::16, ::16]
                        g = np.kron(mcus, np.ones((16, 16), np.uint8))
                        payload = encode_jpeg_color(np.stack([g] * 3, axis=2))
                    elif fmt == "png":
                        payload = encode_png(np.stack([gray] * 3, axis=2))
                    else:  # gif
                        payload = encode_gif(gray)
                    out_ids.append(mid)
                    payloads.append(payload)
                yield pd.DataFrame({"media_id": out_ids, "payload": payloads})

        media = ids.mapInPandas(gen, schema="media_id long, payload binary")
        rows, m = measure(tr, f"{fmt} {n} images", lambda: decode_media(media).collect())
        bad = 0
        for r in rows:
            mid = r["media_id"]
            if fmt == "jpeg_color":
                w, h = 16 + (mid % 3) * 16, 16 + (mid % 2) * 16
            else:
                w, h = 16 + (mid % 3) * 8, 16 + (mid % 2) * 8
            if (r["width"], r["height"]) != (w, h):
                bad += 1
        assert len(rows) == n and bad == 0, f"{fmt}: {bad} dim mismatches"
        print(f"  {fmt:<11s} {n / m['s']:,.0f} img/s encode+decode", flush=True)

    for fmt in ("bmp", "png", "gif", "jpeg", "jpeg_color"):
        run_format(fmt)

    # video: n/10 AVI clips of 6 MJPEG frames each
    nv = max(n // 10, 100)
    ids = spark.range(0, nv, 1, 32).select(F.col("id").alias("media_id"))

    def gen_avi(it):
        from radohydro_spark.sources.avi import encode_avi_mjpeg
        from radohydro_spark.sources.jpeg import encode_jpeg_gray

        for pdf in it:
            out_ids, payloads = [], []
            for mid in pdf["media_id"]:
                mid = int(mid)
                frames = [
                    encode_jpeg_gray(
                        np.full((16, 16), (mid * 13 + f * 7) % 256, np.uint8)
                    )
                    for f in range(6)
                ]
                out_ids.append(mid)
                payloads.append(encode_avi_mjpeg(frames, 16, 16))
            yield pd.DataFrame({"media_id": out_ids, "payload": payloads})

    clips = ids.mapInPandas(gen_avi, schema="media_id long, payload binary")
    leg = f"avi_mjpeg {nv} clips (6 frames, sample 3)"
    rows, m = measure(tr, leg, lambda: decode_video(clips, sample_every=2).collect())
    assert len(rows) == nv
    assert all(r["n_frames"] == 6 and r["n_sampled"] == 3 for r in rows)
    print(f"  {'avi_mjpeg':<11s} {nv / m['s']:,.0f} clips/s", flush=True)
    print("soak_media: ALL OK")


if __name__ == "__main__":
    main()
