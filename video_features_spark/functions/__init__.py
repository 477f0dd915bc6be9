from .codec import decode_image, encode_image, psnr  # noqa: F401
from .embed import get_model  # noqa: F401
from .phash import average_hash  # noqa: F401
from .preprocess import center_crop, clip_preprocess, normalize, resize  # noqa: F401
