from kusto_pre_forge_spark.sources.blob import (
    list_source,
    map_blobs,
    open_decompressed,
    read_blobs,
    read_landing,
    read_xz_lines,
    read_zip_lines,
)
from kusto_pre_forge_spark.sources.autoextract import read_text_auto
from kusto_pre_forge_spark.sources.docx import read_docx
from kusto_pre_forge_spark.sources.epub import read_epub
from kusto_pre_forge_spark.sources.ipynb import read_ipynb
from kusto_pre_forge_spark.sources.mail import read_mbox
from kusto_pre_forge_spark.sources.mediawiki import read_mediawiki
from kusto_pre_forge_spark.sources.pdf import read_pdf
from kusto_pre_forge_spark.sources.rtf import read_rtf
from kusto_pre_forge_spark.sources.subtitles import read_subtitles
from kusto_pre_forge_spark.sources.warc import read_warc
from kusto_pre_forge_spark.sources.xmlrows import read_xml_rows

__all__ = [
    "list_source",
    "map_blobs",
    "open_decompressed",
    "read_blobs",
    "read_landing",
    "read_xz_lines",
    "read_zip_lines",
    "read_docx",
    "read_epub",
    "read_text_auto",
    "read_ipynb",
    "read_mbox",
    "read_mediawiki",
    "read_pdf",
    "read_rtf",
    "read_subtitles",
    "read_warc",
    "read_xml_rows",
]
