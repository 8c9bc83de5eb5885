from .asof import as_of_join  # noqa: F401
from .intervals import range_join  # noqa: F401
from .latest import first_last_delta, latest_per_key  # noqa: F401
from .pivot import latest_leg, latest_pivot  # noqa: F401
from .unigram import (  # noqa: F401
    unigram_encode,
    unigram_sample_encode,
    unigram_train,
)
