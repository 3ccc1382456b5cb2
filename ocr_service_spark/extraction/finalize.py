"""Output normalization + response semantics (operators T5 / S6).

``finalize_output_text`` reproduces converter.py:58-68 in exactly the
reference's order (the order is observable: tab-collapse before
newline-collapse changes results on mixed whitespace):

    1. \\r\\n -> \\n, then bare \\r -> \\n
    2. runs of spaces/tabs -> single space
    3. runs of >=3 newlines -> exactly two
    4. utf-8 encode/decode with errors="replace"
    5. strip()

``success_and_log`` reproduces the build_response success rule
(utils/utils.py:179-187): non-empty text wins; empty text is a success
only when explicitly allowed (ocr_skipped); otherwise failure.
"""

from __future__ import annotations

import re

MULTI_WHITESPACE = re.compile(r"[ \t]+")  # converter.py:37
MULTI_NEWLINES = re.compile(r"\n{3,}")  # converter.py:38


def utf8_replace(text: str) -> str:
    """Step 4: what UTF-8 cannot encode (a lone surrogate) becomes ``?``."""
    return text.encode("utf-8", errors="replace").decode("utf-8")


def finalize_output_text(output_text: str) -> str:
    """converter.py:58-68."""
    output_text = output_text.replace("\r\n", "\n").replace("\r", "\n")
    output_text = MULTI_WHITESPACE.sub(" ", output_text)
    output_text = MULTI_NEWLINES.sub("\n\n", output_text)
    return utf8_replace(output_text).strip()


def success_and_log(text: str, allow_empty_text: bool, log_message: str = "") -> tuple[bool, str]:
    """utils/utils.py:179-187 -> (success, log_message)."""
    if len(text) > 0:
        return True, log_message
    if allow_empty_text:
        return True, log_message or "OCR skipped; no text generated."
    return False, "No text has been generated."
