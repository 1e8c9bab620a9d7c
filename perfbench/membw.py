"""One-process memory copy bandwidth.

    python3 perfbench/membw.py <array_bytes>

Copies one float64 array of ``array_bytes`` into another of the same
size, five times after one untimed touch of both, and prints the best
rate in GB/s (bytes read + bytes written per second).
"""

from __future__ import annotations

import sys
import time

import numpy as np


def main() -> None:
    n = int(sys.argv[1]) // 8
    src = np.ones(n, dtype=np.float64)
    dst = np.empty_like(src)
    np.copyto(dst, src)
    best = 0.0
    for _ in range(5):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = max(best, 2 * src.nbytes / (time.perf_counter() - t0))
    print(best / 1e9)


if __name__ == "__main__":
    main()
