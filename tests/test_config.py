"""ExtractConfig carries no dead knobs: a field that no code reads is an
option whose setting changes nothing."""

import dataclasses
import pathlib
import re

import pbx_ds_ocr_server_spark
from pbx_ds_ocr_server_spark.config import ExtractConfig


def test_every_config_field_is_read():
    pkg = pathlib.Path(pbx_ds_ocr_server_spark.__file__).parent
    src = "\n".join(
        p.read_text(encoding="utf-8")
        for p in pkg.rglob("*.py")
        if p != pkg / "config.py"
    )
    unread = [
        f.name
        for f in dataclasses.fields(ExtractConfig)
        if not re.search(rf"\.{f.name}\b", src)
    ]
    assert unread == []
