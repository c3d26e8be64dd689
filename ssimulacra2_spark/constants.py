"""Engine constants, all computed at import time in plain Python.

Analog of the reference's build-time constant folding
(/root/reference/ssimulacra2/build.rs:24-117 — IIR coefficients solved at
compile time, sanity-asserted to normalize to 1 at build.rs:81-82). Here the
same idea is: compute every filter weight / calibration constant once on the
driver, embed them as ``lit()`` literals / tiny broadcast tables, and let
Catalyst constant-fold the rest.
"""

from __future__ import annotations

import math

# --- windowed-stats kernel (idiomatic variant of the reference blur) -------
# Reference blur: recursive IIR approximating a Gaussian, sigma = 1.5,
# effective radius = round(3.2795*sigma + 0.2546) = 5
# (/root/reference/ssimulacra2/build.rs:28).  The idiomatic Spark variant is
# a finite (2R+1)-tap truncated Gaussian over a Window rowsBetween(-R, R).
SIGMA = 1.5
RADIUS = int(round(3.2795 * SIGMA + 0.2546))  # == 5


def gaussian_taps(sigma: float = SIGMA, radius: int = RADIUS) -> list[float]:
    w = [math.exp(-(i * i) / (2.0 * sigma * sigma)) for i in range(-radius, radius + 1)]
    s = sum(w)
    taps = [x / s for x in w]
    # build-time invariant assert, mirroring build.rs:81-82
    assert abs(sum(taps) - 1.0) < 1e-12
    return taps


KERNEL_TAPS = gaussian_taps()

# --- SSIM-style drift expression constants ---------------------------------
# C2 stabilizer (/root/reference/ssimulacra2/src/lib.rs:206).
C2 = 0.0009

# Pyramid depth and minimum admitted size (lib.rs:9, lib.rs:53-55).
NUM_SCALES = 6
MIN_SIZE = 8  # reference guards < 8x8; engine: minimum rows per partition

# --- score calibration (lib.rs:472-484) ------------------------------------
# These are the published constants of the SSIMULACRA2 scoring formula
# (algorithm behavior, not code): linear rescale, cubic polynomial, and the
# final nonlinear 100 - 10*s^p map, floored at 100 for s <= 0.
CALIB_LINEAR = 0.9562382616834844
CALIB_CUBIC_3 = 6.248496625763138e-5
CALIB_CUBIC_2 = -0.020884521182843837
CALIB_CUBIC_1 = 2.326765642916932
CALIB_POW = 0.6276336467831387

# --- health-score weight table ----------------------------------------------
# Shape mirrors the reference's trained 108-weight reduce
# (channel x scale x {ssim, artifact, detail} x {l1, l4}, lib.rs:344-470);
# values are the engine's own documented defaults (this is a new engine, not
# a port): emphasize coarse scales and the L4 (tail-sensitive) norm.
CHANNELS = ("len", "tok", "hash")  # text feature channels (planar analog)
MAPS = ("ssim", "artifact", "detail")
NORMS = ("l1", "l4")


def default_weights(
    channels: tuple[str, ...] = CHANNELS, num_scales: int = NUM_SCALES
) -> list[tuple[str, int, str, str, float]]:
    """Rows (channel, scale, map, norm, weight); weights sum to 1."""
    rows = []
    raw = []
    for ci, ch in enumerate(channels):
        for scale in range(num_scales):
            for m in MAPS:
                for norm in NORMS:
                    w = (1.0 + scale) * (2.0 if norm == "l4" else 1.0)
                    if m == "ssim":
                        w *= 2.0
                    if ch == "len":  # length channel carries most drift signal
                        w *= 1.5
                    raw.append((ch, scale, m, norm, w))
    total = sum(r[-1] for r in raw)
    for ch, scale, m, norm, w in raw:
        rows.append((ch, scale, m, norm, w / total))
    return rows


# Verdict threshold on the calibrated 0-100 score.  Anchors from the
# reference README (30=low, 50=medium, 70=high, 90=very high quality,
# /root/reference/ssimulacra2_bin/README.md:10-15): a partition pair scoring
# below 70 ("high quality") is flagged as drifted.
SCORE_PASS_THRESHOLD = 70.0
