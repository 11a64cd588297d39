from iatlas_cbioportal_export_spark.functions.scalar import (  # noqa: F401
    case_list_slug,
    case_normalize,
    days_to_months,
    recode_values,
    strip_first_literal,
    strip_colname_suffixes,
)
from iatlas_cbioportal_export_spark.functions.text import (  # noqa: F401
    punct_ratio,
    rolling_fingerprint,
    token_count,
    tokens,
)
