"""Query registry: named DataFrame plans paired with oracle SQL."""

from collections import Counter

from lol_data_pipeline_spark.plans.queries import REGISTRY, QuerySpec  # noqa: F401
import lol_data_pipeline_spark.plans.extensions  # noqa: E402,F401  (registers ext queries)
import lol_data_pipeline_spark.plans.streaming_queries  # noqa: E402,F401
import lol_data_pipeline_spark.plans.catalog  # noqa: E402,F401
import lol_data_pipeline_spark.plans.tpch  # noqa: E402,F401
import lol_data_pipeline_spark.plans.sketches  # noqa: E402,F401
import lol_data_pipeline_spark.plans.corpus  # noqa: E402,F401
import lol_data_pipeline_spark.plans.behavior  # noqa: E402,F401
import lol_data_pipeline_spark.plans.curation  # noqa: E402,F401
import lol_data_pipeline_spark.plans.round8  # noqa: E402,F401
import lol_data_pipeline_spark.plans.round9  # noqa: E402,F401
import lol_data_pipeline_spark.plans.round10  # noqa: E402,F401
import lol_data_pipeline_spark.plans.round11  # noqa: E402,F401
import lol_data_pipeline_spark.plans.modeling  # noqa: E402,F401
import lol_data_pipeline_spark.plans.round12  # noqa: E402,F401
import lol_data_pipeline_spark.plans.round13  # noqa: E402,F401
import lol_data_pipeline_spark.plans.round14  # noqa: E402,F401
from lol_data_pipeline_spark.plans.order import ORDER  # noqa: E402


def apply_order(registry: dict, order: tuple[str, ...]) -> None:
    """Reorder ``registry`` in place to ``order``. Raises ImportError,
    naming the entries, when ``order`` repeats a name or does not list
    exactly the registered names."""
    dups = sorted(n for n, c in Counter(order).items() if c > 1)
    if dups:
        raise ImportError(f"plans/order.py lists these entries twice: {dups}")
    missing = sorted(set(registry) - set(order))
    extra = sorted(set(order) - set(registry))
    if missing or extra:
        raise ImportError(
            f"plans/order.py is out of step with the registry: "
            f"missing {missing}, extra {extra}"
        )
    items = dict(registry)
    # clear + reinsert keeps the shared dict object (modules hold references)
    registry.clear()
    for n in order:
        registry[n] = items[n]


apply_order(REGISTRY, ORDER)
