from .pages import extract_text_col, pages_df

__all__ = ["pages_df", "extract_text_col"]
