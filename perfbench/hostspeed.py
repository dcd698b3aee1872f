"""How fast the host runs code at the moment, from a fixed piece of
work that does not touch the program.

On a shared host the same op can take more than twice the CPU time in
one hour as in the next: neighbours load the physical cores under the
virtual CPUs, and none of it shows as stolen time. The benchmark runs
this reference work before every op, once in each of as many threads
as there are CPUs (so that it lands on more than one of them), and
scales its gated times by ``NOMINAL_S / mean reference time`` over the
run. The times then read as if the host ran at one fixed speed. The reference is zlib compressing a fixed buffer
in the benchmark's own process, measured in each thread's CPU time
while no op runs, so no change to the program makes it faster or
slower, and time the hypervisor or other processes take from a CPU
does not count in it.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import zlib
from concurrent.futures import ThreadPoolExecutor

# a fixed constant: scaled seconds equal measured ones when the
# reference work takes this long (it took 18-25 ms per thread on a
# loaded 4-vCPU Xeon 2.1 GHz VM)
NOMINAL_S = 0.01

_rnd = random.Random(7)
# 512 KB of text-like bytes: zlib finds matches, but not everywhere
_BUF = bytes(_rnd.getrandbits(6) | 0x40 for _ in range(1 << 16)) * 8


def _zlib_cpu(_: int) -> float:
    c0 = time.thread_time()
    zlib.compress(_BUF, 6)
    return time.thread_time() - c0


def sample() -> float:
    """CPU seconds of the reference work, mean over one thread per CPU."""
    n = len(os.sched_getaffinity(0))
    with ThreadPoolExecutor(n) as ex:
        return statistics.fmean(ex.map(_zlib_cpu, range(n)))
