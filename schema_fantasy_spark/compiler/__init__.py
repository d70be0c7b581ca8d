"""Driver-side schema compiler: $ref linking, JSON-Pointer resolution,
lowering of a JSON-Schema draft-4 document to the keyword IR (``ir``) and
generation of the dynamic mode's kernel from it (``plan``).

Everything here runs once on the driver at plan time — the reference's
per-row cursor walk (reference src/context.js) does not exist at runtime.
"""
