"""The benchmark's workloads: which engine entry points each drives.

Every batch workload is one closed-loop client running its queries
sequentially (``spec.fn`` then a ``noop`` write) over the synthetic corpus
from ``datagen.py``; the seed permutes the query order of every pass. The
service workload drives ``http_api.serve_background`` in a server process
with concurrent HTTP clients; the seed draws the word-count inputs. Why
each workload was chosen is in ``BENCHMARK.json``.

The query lists are subsets of the registry chosen so that one run (cold
set-up, warm-up and settling passes, timed passes, the correctness pass)
fits the benchmark's per-run budget on a 4-core host.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "batch-sql": {
        "queries": [
            "q_group_agg", "q_multi_join", "q_window_frames", "q_sessionize",
            "q_stream_topk",
        ],
    },
    "service-wordcount": {
        "clients": 3,
        "words_per_algo": 2000,
        "vocabulary": 5000,
        "map_input_length": 1000,
        "poll_s": 0.01,
    },
}
