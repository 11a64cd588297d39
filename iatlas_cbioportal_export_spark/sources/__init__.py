from iatlas_cbioportal_export_spark.sources.readers import (  # noqa: F401
    read_maf_folder,
    read_tsv,
    read_tsv_skip_cbioportal_header,
)
from iatlas_cbioportal_export_spark.sources.sinks import (  # noqa: F401
    render_case_list_text,
    render_meta_file,
    write_cbioportal_clinical,
    write_chunked_tsv,
    write_tsv,
)
