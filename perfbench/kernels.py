"""Single-thread cost of the per-document kernels behind the fused Arrow UDF.

Calls the batch entry points that both the built-in fallback models and the
fastText/KenLM adapters define (`predict`, `score`), the fused UDF's plain
Python function, and the feature kernel, in this process with Spark idle.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

from data_quality_spark import langid, perplexity
from data_quality_spark.analyze import analyze_text
from data_quality_spark.functions.textstats import compute_features_py


def kernel_us_per_doc(texts: list[str], reps: int = 3) -> dict[str, float]:
    """Median over `reps` passes of µs per document for each kernel."""
    batch = pd.Series(texts)
    model, lm = langid._get_model(), perplexity._get_lm()
    kernels = {
        "analyze": lambda: analyze_text.func(batch),
        "langid": lambda: model.predict(batch),
        "perplexity": lambda: lm.score(batch),
        "textstats": lambda: [compute_features_py(t) for t in texts],
    }
    out = {}
    for name, fn in kernels.items():
        fn()  # first call loads the model singletons
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        out[name] = statistics.median(samples) / len(texts) * 1e6
    return out
