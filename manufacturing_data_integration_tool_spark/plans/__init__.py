from .rules import CompileContext, ERROR_STRUCT_TYPE, ERRORS_ARRAY_TYPE, compile_rule, register_rule
from .validator import ValidationResult, annotate_errors, validate
from . import dataset_rules

__all__ = [
    "CompileContext",
    "ERROR_STRUCT_TYPE",
    "ERRORS_ARRAY_TYPE",
    "compile_rule",
    "register_rule",
    "ValidationResult",
    "annotate_errors",
    "validate",
    "dataset_rules",
]
