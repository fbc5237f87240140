"""One-off: execute the x100-flagged queries the final-code bhj sweep
had not yet reached when it was stopped at emb_neardup_pairs — the
documented EXACT all-pairs baseline (n^2 by contract, scale_lint
BNLJ_DOCUMENTED), which is exempt from decade execution: at x100 its
pair count is 4e10 and running it proves nothing the contract doesn't
already state. Everything else runs."""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as em  # noqa: E402

from dns_log_transformer_spark.operators.caching import release_all  # noqa: E402
from dns_log_transformer_spark.session import get_spark  # noqa: E402
from tools.scale import DST100 as X100  # noqa: E402

REMAINING = [
    "emb_source_drift", "mm_resize", "sim_ann_ivf_topk", "sim_ann_lsh_topk",
    "sim_int8_rerank", "sim_int8_topk", "sim_ivfpq_topk",
    "sim_matryoshka_rerank", "sim_matryoshka_tradeoff", "sim_pq_adc_topk",
    "sim_topk_bruteforce", "sketch_cms_topk", "text_bm25_topk",
    "text_fingerprint", "text_hybrid_rrf", "text_ngram_novelty",
    "text_pmi_collocations", "text_quality", "text_rake_keyphrases",
    "text_repetition", "text_tfidf_cosine_rerank", "text_tfidf_topterms",
    "text_trigram_familiarity",
]


def main() -> int:
    spark = get_spark("bhj_tail")
    qs = em.queries()
    failures = 0
    for name in REMAINING:
        t0 = time.monotonic()
        try:
            n = qs[name](spark, X100).count()
            print(f"  {name}: {time.monotonic() - t0:.1f}s rows={n}",
                  flush=True)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            failures += 1
            print(f"  FAIL {name}: {str(ex).splitlines()[0][:120]}",
                  flush=True)
        release_all()
    print(f"failures: {failures} / {len(REMAINING)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
