"""Build the engine-input images table (BASELINE.json input_hint shape)
from simulated GPS fixes: each row is one fix carried as an image+caption.

Schema: (image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64) — FIXTURES.md §1.

Encoding runs in-process (pandas); ``bench_data.ensure_bench_images`` runs
it inside Spark ``mapInPandas`` at bench scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.images import encode_image, phash64, render_pixels

IMG_W, IMG_H = 32, 32


def caption_of(trace_id: int, ts: int, lat: float, lon: float) -> str:
    return f"trace={trace_id};ts={ts};lat={lat:.7f};lon={lon:.7f}"


def images_from_fixes_pd(fixes: pd.DataFrame, lossy_every: int = 7) -> pd.DataFrame:
    """Encode a fixes frame (trace_id, seq, ts, lat, lon) → images frame.

    Every ``lossy_every``-th row uses the lossy format to exercise the
    PSNR≥40 dB invariant path.
    """
    out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
    for i, row in enumerate(fixes.itertuples(index=False)):
        cap = caption_of(int(row.trace_id), int(row.ts), float(row.lat), float(row.lon))
        fmt = "jpeg" if (i % lossy_every) == lossy_every - 1 else "png"
        px = render_pixels(cap, IMG_W, IMG_H)
        out["image_id"].append(f"img_{int(row.trace_id):06d}_{int(row.seq):05d}")
        out["bytes"].append(encode_image(px, fmt))
        out["w"].append(IMG_W)
        out["h"].append(IMG_H)
        out["fmt"].append(fmt)
        out["caption"].append(cap)
        out["phash"].append(phash64(px))
    df = pd.DataFrame(out)
    return df.astype({"w": np.int32, "h": np.int32, "phash": np.int64})
