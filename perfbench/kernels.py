"""Spark-free microbenches of the two Arrow kernels that dominate their
stages: the fused signature kernel and the winnow fingerprint kernel, called
through the pandas UDFs' underlying Python functions."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd


def kernel_docs(seed: int, n_docs: int = 2000) -> list[str]:
    """A fixed seeded batch of transcript-like documents (2-10 turns of
    12-60 words, the planted-family generator's turn shape)."""
    from lsh_cascade_poc_spark.datagen.transcripts import _sentence

    rng = np.random.default_rng([seed, 0x6B65])
    return [
        "\n".join(_sentence(rng, int(rng.integers(12, 61)))
                  for _ in range(int(rng.integers(2, 11))))
        for _ in range(n_docs)
    ]


def _median_rate(fn, texts: list[str], work: float, min_s: float) -> float:
    """Median of work/second over repeated calls, for at least min_s."""
    series = pd.Series(texts)
    rates = []
    spent = 0.0
    while spent < min_s or len(rates) < 3:
        t0 = time.perf_counter()
        for _ in fn(iter([series])):
            pass
        dt = time.perf_counter() - t0
        spent += dt
        rates.append(work / dt)
    return statistics.median(rates)


def kernel_rates(seed: int, min_s: float = 1.0) -> dict[str, float]:
    from lsh_cascade_poc_spark.config import DedupConfig
    from lsh_cascade_poc_spark.functions.signature_udf import make_signature_udf
    from lsh_cascade_poc_spark.operators.suffix import make_winnow_udf

    cfg = DedupConfig()
    texts = kernel_docs(seed)
    sig = make_signature_udf(cfg.shingle_k, cfg.n_perm, cfg.minhash_seed,
                             cfg.simhash_bits).func
    win = make_winnow_udf(cfg.winnow_kgram_chars, cfg.winnow_window).func
    mb = sum(len(t.encode("utf-8")) for t in texts) / 1e6
    return {
        "kernel.signature.docs_per_s": _median_rate(sig, texts, len(texts),
                                                    min_s),
        "kernel.winnow.mb_per_s": _median_rate(win, texts, mb, min_s),
    }
