"""Record-level error types.

Semantics follow the reference's error side-channel
(/root/reference/mc2skos/error.py:3-19): a record-level failure must never
abort the run — callers catch :class:`InvalidRecordError` and route the
record to the quarantine side-output with a reason string.
"""

from __future__ import annotations


class InvalidRecordError(RuntimeError):
    """A record that cannot be converted (missing leader, missing 153, ...)."""

    def __init__(self, msg: str, control_number: str | None = None):
        super().__init__(msg)
        self.control_number = control_number


class UnknownSchemeError(InvalidRecordError):
    """No URI template is known for the vocabulary code.

    Mirrors /root/reference/mc2skos/error.py:11-19 including the two
    message variants (code known vs unknown).
    """

    def __init__(self, code: str | None = None, message: str | None = None):
        if message is None:
            if code is None:
                message = ("Could not find classification scheme or subject "
                           "vocabulary code.")
            else:
                message = ("Cannot generate URIs for unknown classification "
                           "scheme or subject vocabulary \"%s\"." % code)
        super().__init__(message)
        self.code = code
