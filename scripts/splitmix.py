"""splitmix64 integer hashing for the deterministic rehearsal generators
(gen_sf1_docs.py, gen_sf1_events.py): no RNG, reproducible bit-for-bit."""
import numpy as np

MASK = np.uint64(0xFFFFFFFFFFFFFFFF)
np.seterr(over="ignore")  # uint64 wraparound IS the splitmix hash semantics


def mix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """splitmix64 over a*PHI xor b — vectorized, pure uint64."""
    z = (a * np.uint64(0x9E3779B97F4A7C15) ^ b) & MASK
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & MASK
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & MASK
    return z ^ (z >> np.uint64(31))
