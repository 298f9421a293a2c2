"""Host-health probe for the r15 optimization round's A/B timing.

The sandbox's memory subsystem degrades in BURSTS (measured this round:
a 1 GB steady-state copy read 7.9 GB/s in a quiet window and ~0.035 GB/s
minutes earlier — ~200x; pure ALU work scales perfectly throughout, so
a CPU-bound reference loop is blind to it). Every timing batch this
round is bracketed by this probe; a batch whose bracket shows >1.5 GB/s
spread between probes (or <4 GB/s absolute) is discarded and re-run.

Prints one line: `bw=<GB/s> loop=<sec>` — bandwidth (10x 1 GB copyto
over pre-faulted buffers) and a fixed single-core ALU loop.
"""
import time

import numpy as np


def probe() -> tuple[float, float]:
    a = np.ones(100_000_000 // 8)
    b = np.ones(100_000_000 // 8)
    t0 = time.perf_counter()
    for _ in range(10):
        np.copyto(b, a)
    bw = 1.0 / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i % 7
    loop = time.perf_counter() - t0
    return bw, loop


if __name__ == "__main__":
    bw, loop = probe()
    print(f"bw={bw:.1f}GB/s loop={loop:.2f}s")
