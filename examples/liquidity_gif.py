"""Render the liquidity-timeline animation — the engine-side equivalent of
the reference's Crosschain_Liquidity_GIF notebook (cell 12), whose data
side (per-frame distributions, quantile normalization) the engine already
computes. This closes the render step without matplotlib: frames are
rasterized with numpy and encoded by the pure GIF89a writer in
datapipe/gif.py.

Pipeline: liquidity_timeline over the pool's mint/burns (ONE Spark plan
for every frame — no per-frame re-scan) -> per-frame bar raster (tick on
x, liquidity on y, 99th-percentile clip like the notebook's quantile
normalization) -> animated GIF.

Usage: python examples/liquidity_gif.py [out=/tmp/liquidity_timeline.gif]
"""

from __future__ import annotations

import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from v3_polars_spark.datapipe.gif import decode_gif, encode_gif  # noqa: E402
from v3_polars_spark.session import (  # noqa: E402
    get_spark,
    quiet_expected_jvm_warnings,
)

DATA = "/root/reference/v3/data/examples"
POOL = "0x1d42064FC4Beb5F8aAF85F4617AE8b3b5B8Bd801"  # UNI/WETH 30 bps
FRAMES = [12372000.0, 12374000.0, 12376626.0]  # as_of of each frame
W, H = 320, 180
PALETTE = np.array(
    [
        [16, 18, 24],     # 0 background
        [58, 130, 246],   # 1 liquidity bar
        [148, 163, 184],  # 2 axis
        [244, 114, 94],   # 3 frame marker
    ],
    dtype=np.uint8,
)


def rasterize(frames: list[tuple], ticks: np.ndarray) -> np.ndarray:
    """One [H, W] indexed raster per frame: bars over the global tick
    axis, heights normalized to each frame's own 99th-percentile clip —
    the notebook's per-frame quantile normalization (liquidity spans
    orders of magnitude across a pool's life, so a global scale flattens
    early frames to nothing)."""
    tick_min, tick_max = ticks.min(), ticks.max()
    span = max(int(tick_max - tick_min), 1)
    out = np.zeros((len(frames), H, W), dtype=np.uint8)
    usable_h = H - 12
    bar_w = max(1, W // max(len(np.unique(ticks)), 1))
    for i, (_, t, liq) in enumerate(frames):
        img = out[i]
        img[H - 10, :] = 2  # x axis
        pos = liq[liq > 0]
        clip = float(np.quantile(pos, 0.99)) if len(pos) else 1.0
        xs = ((t - tick_min) / span * (W - bar_w)).astype(np.int64)
        hs = (np.clip(liq, 0, clip) / clip * usable_h).astype(np.int64)
        for x, bh in zip(xs, hs):
            if bh > 0:
                img[H - 10 - bh:H - 10, x:x + bar_w] = 1
        # frame-progress marker along the top
        mx = int(i / max(len(frames) - 1, 1) * (W - 5))
        img[2:5, mx:mx + 5] = 3
    return out


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/liquidity_timeline.gif"
    spark = get_spark(app_name="liquidity-gif")
    quiet_expected_jvm_warnings(spark)

    from v3_polars_spark.v3 import Pool, liquidity_timeline

    pool = Pool(spark, POOL, "ethereum", DATA)
    pdf = (
        liquidity_timeline(pool.mb, FRAMES)
        .toPandas()
        .sort_values(["frame_as_of", "tick"])
    )
    frames = []
    for as_of, g in pdf.groupby("frame_as_of", sort=True):
        liq = np.maximum(g["liquidity"].to_numpy(dtype=np.float64), 0.0)
        frames.append((as_of, g["tick"].to_numpy(dtype=np.int64), liq))
    ticks = np.concatenate([f[1] for f in frames])

    rasters = rasterize(frames, ticks)
    blob = encode_gif(rasters, PALETTE, delay_cs=40)
    with open(out_path, "wb") as f:
        f.write(blob)

    back, _ = decode_gif(blob)
    assert back.shape == rasters.shape and (back == rasters).all()
    print(
        f"wrote {out_path}: {len(frames)} frames {W}x{H}, "
        f"{len(blob)} bytes, roundtrip verified"
    )


if __name__ == "__main__":
    main()
