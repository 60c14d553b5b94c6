from .cdx import (  # noqa: F401
    cdx_lines,
    cdx_records,
    read_cdx,
    surt_key,
    write_cdx,
)
from .wet import (  # noqa: F401
    wat_records,
    wet_records,
    write_wat,
    write_wet,
)
from .warc_source import (  # noqa: F401
    HTTP_SPLIT_SCHEMA,
    MEMBER_INDEX_SCHEMA,
    WARC_RECORD_SCHEMA,
    split_http_payload,
    index_warc_members,
    parse_warc_column,
    plan_warc_splits,
    read_warc,
    read_warc_records,
    write_warc,
)
from .arc_source import (  # noqa: F401
    ARC_INDEX_SCHEMA,
    ARC_RECORD_SCHEMA,
    index_arc_records,
    read_arc,
    read_arc_records,
    write_arc,
)
from .dispatch import open_archive  # noqa: F401
from .pages import synth_pages, extract_text_kernel, extract_links_kernel  # noqa: F401
