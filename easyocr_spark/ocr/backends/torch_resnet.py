"""Real gen1 ResNet CRNN recognizer (torch backend).

The generation-1 recognition family serves the non-Latin scripts the
gen2 VGG models don't cover — thai/arabic/devanagari/bengali/tamil/
cyrillic and friends (reference easyocr/config.py:55-143 pins the
released .pth files + md5; architecture reference
easyocr/model/model.py:4-35 with ResNet_FeatureExtractor from
model/modules.py:126-264: a FAN-style ResNet with BasicBlock counts
[1, 2, 5, 3], inter-stage smoothing convs and a 2-conv tail, followed
by the same two stacked BiLSTMs and linear CTC head as gen2
(torch_crnn.sequence_head) but at width 512 (input_channel 1 /
output_channel 512 / hidden_size 512, reference
easyocr/easyocr.py:218-222)).

Like the other torch backends this is independent module code plus an
explicit checkpoint-key translation layer (remap_key); the recorded
public checkpoint layout lives in manifests.gen1_checkpoint_manifest
and the remap is proven against it torch-free (tests/
test_torch_backend.py). A loaded gen1 net recognizes through
torch_crnn.TorchRecognizer, like the gen2 ones.

Without torch, the real builder and forward run under the numpy shim
(``np_torch.installed()``) in tests/test_torch_backend.py; the tests
that need torch importorskip.
"""

from __future__ import annotations

from .torch_craft import bn_entry, conv_entry
from .torch_crnn import remap_recognizer_key, sequence_head, sequence_head_params

# gen1 network params (reference easyocr/easyocr.py:218-222)
INPUT_CHANNEL = 1
OUTPUT_CHANNEL = 512
HIDDEN_SIZE = 512
IMG_H = 64
# per-stage output channels [out/4, out/2, out, out] and BasicBlock
# counts (reference easyocr/model/modules.py:133,175)
_STAGE_CH = [OUTPUT_CHANNEL // 4, OUTPUT_CHANNEL // 2, OUTPUT_CHANNEL, OUTPUT_CHANNEL]
_STAGE_BLOCKS = [1, 2, 5, 3]
_STEM_CH = [OUTPUT_CHANNEL // 16, OUTPUT_CHANNEL // 8]  # [32, 64]

# gen1 charsets (reference easyocr/config.py:95-102 'thai_g1' — the
# leading ¢£¤¥ are the th/en separator chars of config.py:45-51 — and
# :119-126 'arabic_g1'); index 0 is the CTC blank per CTCLabelConverter
THAI_G1_CHARSET = (
    "\xa2\xa3\xa4\xa5!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~ "
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "กขคฆงจฉชซฌญฎฏฐฑฒณดตถทธนบปผฝพฟภมยรลวศษสหฬอฮฤ"
    "เแโใไะาุูิีืึั่้๊๋็์ำํฺฯๆ0123456789๑๒๓๔๕๖๗๘๙"
)
ARABIC_G1_CHARSET = (  # non-ASCII escaped: combining marks reorder visually
    "0123456789!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~ abcdefghijklmnopqrstuvw"
    "xyzABCDEFGHIJKLMNOPQRSTUVWXYZ\u0660\u0661\u0662\u0663\u0664\u0665"
    "\u0666\u0667\u0668\u0669\u00ab\u00bb\u061f\u060c\u061b\u0621\u0622"
    "\u0623\u0624\u0625\u0626\u0627\u0627\u064b\u0628\u0629\u062a\u062b"
    "\u062c\u062d\u062e\u062f\u0630\u0631\u0632\u0633\u0634\u0635\u0636"
    "\u0637\u0638\u0639\u063a\u0641\u0642\u0643\u0644\u0645\u0646\u0647"
    "\u0648\u0649\u064a\u064b\u064c\u064d\u064e\u064f\u0650\u0651\u0652"
    "\u0653\u0654\u0670\u0671\u0679\u067e\u0686\u0688\u0691\u0698\u06a9"
    "\u06ad\u06af\u06ba\u06be\u06c0\u06c1\u06c2\u06c3\u06c6\u06c7\u06c8"
    "\u06cb\u06cc\u06d0\u06d2\u06d3\u06d5"
)
DEVANAGARI_G1_CHARSET = (  # 187 chars, reference config.py 'devanagari_g1'
    "0123456789!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~ abcdefghijklmnopqrs"
    "tuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.\u0901\u0902\u0903\u0905\u0905"
    "\u0902\u0905\u0903\u0906\u0907\u0908\u0909\u090a\u090b\u090f"
    "\u0910\u0911\u0913\u0914\u0915\u0916\u0917\u0918\u0919\u091a"
    "\u091b\u091c\u091d\u091e\u091f\u0920\u0921\u0922\u0923\u0924"
    "\u0925\u0926\u0927\u0928\u0929\u092a\u092b\u092c\u092d\u092e"
    "\u092f\u0930\u0931\u0932\u0933\u0935\u0936\u0937\u0938\u0939"
    "\u093c\u093e\u093f\u0940\u0941\u0942\u0943\u0945\u0947\u0948"
    "\u0949\u094b\u094c\u094d\u0950\u0952\u0958\u0959\u095a\u095b"
    "\u095c\u095d\u095e\u0960\u0964\u0966\u0967\u0968\u0969\u096a"
    "\u096b\u096c\u096d\u096e\u096f\u0970"
)
BENGALI_G1_CHARSET = (  # 169 chars, reference config.py 'bengali_g1'
    "0123456789!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~ abcdefghijklmnopqrs"
    "tuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ\u0964\u0981\u0982\u0983\u0985"
    "\u0986\u0987\u0988\u0989\u098a\u098b\u098c\u098f\u0990\u0993"
    "\u0994\u0995\u0996\u0997\u0998\u0999\u099a\u099b\u099c\u099d"
    "\u099e\u099f\u09a0\u09a1\u09a2\u09a3\u09a4\u09a5\u09a6\u09a7"
    "\u09a8\u09aa\u09ab\u09ac\u09ad\u09ae\u09af\u09b0\u09b2\u09b6"
    "\u09b7\u09b8\u09b9\u09bc\u09be\u09bf\u09c0\u09c1\u09c2\u09c3"
    "\u09c7\u09c8\u09cb\u09cc\u09cd\u09ce\u09dc\u09dd\u09df\u09e6"
    "\u09e7\u09e8\u09e9\u09ea\u09eb\u09ec\u09ed\u09ee\u09ef"
)
TAMIL_G1_CHARSET = (  # 126 chars, reference config.py 'tamil_g1'
    "0123456789!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~ abcdefghijklmnopqrs"
    "tuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ\u0b83\u0b85\u0b86\u0b87\u0b88"
    "\u0b89\u0b8a\u0b8e\u0b8f\u0b90\u0b92\u0b93\u0b94\u0b95\u0b99"
    "\u0b9a\u0b9c\u0b9e\u0b9f\u0ba3\u0ba4\u0ba8\u0ba9\u0baa\u0bae"
    "\u0baf\u0bb0\u0bb1\u0bb2\u0bb3\u0bb4"
)
CYRILLIC_G1_CHARSET = (  # 186 chars, reference config.py 'cyrillic_g1'
    "0123456789!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~ abcdefghijklmnopqrs"
    "tuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ\u0401\u0402\u0404\u0406\u0407"
    "\u0408\u0409\u040a\u040b\u040e\u040f\u0410\u0411\u0412\u0413"
    "\u0414\u0415\u0416\u0417\u0418\u0419\u041a\u041b\u041c\u041d"
    "\u041e\u041f\u0420\u0421\u0422\u0423\u0424\u0425\u0426\u0427"
    "\u0428\u0429\u042a\u042b\u042c\u042d\u042e\u042f\u0430\u0431"
    "\u0432\u0433\u0434\u0435\u0436\u0437\u0438\u0439\u043a\u043b"
    "\u043c\u043d\u043e\u043f\u0440\u0441\u0442\u0443\u0444\u0445"
    "\u0446\u0447\u0448\u0449\u044a\u044b\u044c\u044d\u044e\u044f"
    "\u0451\u0452\u0454\u0456\u0457\u0458\u0459\u045a\u045b\u045e"
    "\u045f\u0490\u0491\u04ae\u04af\u04e9"
)
GEN1_MODELS = {
    # language key -> (weights filename, charset) — filenames from
    # reference easyocr/config.py recognition_models['gen1']
    "thai": ("thai.pth", THAI_G1_CHARSET),
    "arabic": ("arabic.pth", ARABIC_G1_CHARSET),
    "devanagari": ("devanagari.pth", DEVANAGARI_G1_CHARSET),
    "bengali": ("bengali.pth", BENGALI_G1_CHARSET),
    "tamil": ("tamil.pth", TAMIL_G1_CHARSET),
    "cyrillic": ("cyrillic.pth", CYRILLIC_G1_CHARSET),
}


def build_model(num_class: int):
    """Construct the gen1 nn.Module. Deferred torch import so the
    module can be imported (for its key-map helpers) without torch."""
    import torch.nn as nn

    def conv3(c_in, c_out):
        return nn.Conv2d(c_in, c_out, 3, 1, 1, bias=False)

    class Residual(nn.Module):
        """BasicBlock analogue: two 3x3 convs with BN and an optional
        1x1 projection shortcut when channels change."""

        def __init__(self, c_in: int, c_out: int):
            super().__init__()
            self.a = conv3(c_in, c_out)
            self.abn = nn.BatchNorm2d(c_out)
            self.b = conv3(c_out, c_out)
            self.bbn = nn.BatchNorm2d(c_out)
            self.relu = nn.ReLU(inplace=True)
            self.short = (
                nn.Sequential(
                    nn.Conv2d(c_in, c_out, 1, 1, bias=False),
                    nn.BatchNorm2d(c_out),
                )
                if c_in != c_out
                else None
            )

        def forward(self, x):
            y = self.relu(self.abn(self.a(x)))
            y = self.bbn(self.b(y))
            y = y + (self.short(x) if self.short is not None else x)
            return self.relu(y)

    def res_stage(c_in, c_out, blocks):
        mods = [Residual(c_in, c_out)]
        mods += [Residual(c_out, c_out) for _ in range(blocks - 1)]
        return nn.Sequential(*mods)

    class Gen1Net(nn.Module):
        def __init__(self):
            super().__init__()
            ch = _STAGE_CH
            self.stem = nn.Sequential(
                conv3(INPUT_CHANNEL, _STEM_CH[0]), nn.BatchNorm2d(_STEM_CH[0]),
                nn.ReLU(inplace=True),
                conv3(_STEM_CH[0], _STEM_CH[1]), nn.BatchNorm2d(_STEM_CH[1]),
                nn.ReLU(inplace=True),
            )
            self.pool1 = nn.MaxPool2d(2, 2)
            self.res1 = res_stage(_STEM_CH[1], ch[0], _STAGE_BLOCKS[0])
            self.smooth1 = nn.Sequential(conv3(ch[0], ch[0]), nn.BatchNorm2d(ch[0]))
            self.pool2 = nn.MaxPool2d(2, 2)
            self.res2 = res_stage(ch[0], ch[1], _STAGE_BLOCKS[1])
            self.smooth2 = nn.Sequential(conv3(ch[1], ch[1]), nn.BatchNorm2d(ch[1]))
            # height-halving pool: the width (CTC time) axis keeps stride 1
            self.pool3 = nn.MaxPool2d(2, stride=(2, 1), padding=(0, 1))
            self.res3 = res_stage(ch[1], ch[2], _STAGE_BLOCKS[2])
            self.smooth3 = nn.Sequential(conv3(ch[2], ch[2]), nn.BatchNorm2d(ch[2]))
            self.res4 = res_stage(ch[2], ch[3], _STAGE_BLOCKS[3])
            self.tail = nn.Sequential(
                nn.Conv2d(ch[3], ch[3], 2, stride=(2, 1), padding=(0, 1), bias=False),
                nn.BatchNorm2d(ch[3]), nn.ReLU(inplace=True),
                nn.Conv2d(ch[3], ch[3], 2, 1, 0, bias=False),
                nn.BatchNorm2d(ch[3]), nn.ReLU(inplace=True),
            )
            self.relu = nn.ReLU(inplace=True)
            self.pool = nn.AdaptiveAvgPool2d((None, 1))
            self.seq, self.head = sequence_head(OUTPUT_CHANNEL, HIDDEN_SIZE, num_class)

        def forward(self, x):
            v = self.stem(x)
            v = self.relu(self.smooth1(self.res1(self.pool1(v))))
            v = self.relu(self.smooth2(self.res2(self.pool2(v))))
            v = self.relu(self.smooth3(self.res3(self.pool3(v))))
            v = self.tail(self.res4(v))  # [N, C, h', T]
            v = self.pool(v.permute(0, 3, 1, 2)).squeeze(3)  # [N, T, C]
            return self.head(self.seq(v))  # [N, T, num_class]

    return Gen1Net()


def expected_params(num_class: int) -> dict[str, tuple[int, ...]]:
    """Name -> shape of every parameter/buffer of build_model()'s
    module, derived WITHOUT torch from the same stage specs — see
    torch_craft.expected_params for the test contract."""
    p: dict[str, tuple[int, ...]] = {}
    conv_entry(p, "stem.0", _STEM_CH[0], INPUT_CHANNEL, 3, bias=False)
    bn_entry(p, "stem.1", _STEM_CH[0])
    conv_entry(p, "stem.3", _STEM_CH[1], _STEM_CH[0], 3, bias=False)
    bn_entry(p, "stem.4", _STEM_CH[1])
    c_in = _STEM_CH[1]
    for s, (c_out, blocks) in enumerate(zip(_STAGE_CH, _STAGE_BLOCKS), start=1):
        for b in range(blocks):
            ci = c_in if b == 0 else c_out
            pre = f"res{s}.{b}"
            conv_entry(p, f"{pre}.a", c_out, ci, 3, bias=False)
            bn_entry(p, f"{pre}.abn", c_out)
            conv_entry(p, f"{pre}.b", c_out, c_out, 3, bias=False)
            bn_entry(p, f"{pre}.bbn", c_out)
            if ci != c_out:
                conv_entry(p, f"{pre}.short.0", c_out, ci, 1, bias=False)
                bn_entry(p, f"{pre}.short.1", c_out)
        if s <= 3:
            conv_entry(p, f"smooth{s}.0", c_out, c_out, 3, bias=False)
            bn_entry(p, f"smooth{s}.1", c_out)
        c_in = c_out
    conv_entry(p, "tail.0", _STAGE_CH[3], _STAGE_CH[3], 2, bias=False)
    bn_entry(p, "tail.1", _STAGE_CH[3])
    conv_entry(p, "tail.3", _STAGE_CH[3], _STAGE_CH[3], 2, bias=False)
    bn_entry(p, "tail.4", _STAGE_CH[3])
    sequence_head_params(p, OUTPUT_CHANNEL, HIDDEN_SIZE, num_class)
    return p


_RESNET_RENAMES = {
    "conv0_1": "stem.0", "bn0_1": "stem.1",
    "conv0_2": "stem.3", "bn0_2": "stem.4",
    "conv1": "smooth1.0", "bn1": "smooth1.1",
    "conv2": "smooth2.0", "bn2": "smooth2.1",
    "conv3": "smooth3.0", "bn3": "smooth3.1",
    "conv4_1": "tail.0", "bn4_1": "tail.1",
    "conv4_2": "tail.3", "bn4_2": "tail.4",
}
_BLOCK_RENAMES = {
    "conv1": "a", "bn1": "abn", "conv2": "b", "bn2": "bbn",
    "downsample.0": "short.0", "downsample.1": "short.1",
}


def _remap_features(rest: str) -> str | None:
    """The ResNet feature extractor's key tail -> module key."""
    if rest.startswith("layer"):
        stage, blk, sub = rest.split(".", 2)
        inner, param = sub.rsplit(".", 1)
        mapped = _BLOCK_RENAMES.get(inner)
        if mapped is None:
            return None
        return f"res{stage[len('layer'):]}.{blk}.{mapped}.{param}"
    name, param = rest.split(".", 1)
    mapped = _RESNET_RENAMES.get(name)
    if mapped is None:
        return None
    return f"{mapped}.{param}"


def remap_key(ckpt_key: str) -> str | None:
    """Translate a gen1 checkpoint (e.g. thai.pth) state_dict key to
    this module's naming. Returns None for keys we don't carry."""
    return remap_recognizer_key(ckpt_key, _remap_features)
